"""Repo-local coverage of the per-tile path: a synthetic z16 tile
written with the in-repo PBF writer, read back through
``sources.osmpbf.full_tile(bound=...)`` and encoded with
``sinks.mvt.mvt_tiles``.

Pins the row-sized stage cuts (a Python stage gets one task per Arrow
batch of rows, not one per upstream partition) and that
``engine.release()`` frees every checkpoint ``full_tile`` made."""

import math
import os
import re

import pytest

from osmzen_spark.pipeline.normalize import NormalizeEngine
from osmzen_spark.sinks.mvt import decode_tile, mvt_tiles
from osmzen_spark.sources.osmpbf import encode_pbf, full_tile
from osmzen_spark.tiling.cells import tile_bound

Z, X, Y = 16, 19295, 24641
LAYERS = ["buildings", "pois"]
BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _tile_elements(bound):
    """(nodes, ways, relations) in encode_pbf's shapes: POIs, one just
    outside the bound, buildings, and a road that crosses the tile edge
    carrying a bus route relation (membership join input)."""
    minx, miny, maxx, maxy = bound
    w, h = maxx - minx, maxy - miny
    nodes, ways, rels = [], [], []

    def pt(u, v, tags=None):
        nid = 1000 + len(nodes)
        nodes.append((nid, minx + u * w, maxy - v * h, tags or {}))
        return nid

    def ring(u, v, d):
        a, b, c, e = pt(u, v), pt(u + d, v), pt(u + d, v + d), pt(u, v + d)
        return [a, b, c, e, a]

    pt(0.2, 0.1, {"amenity": "restaurant", "name": "Diner"})
    pt(0.4, 0.1, {"shop": "bakery", "name": "Crumb"})
    pt(0.6, 0.1, {"tourism": "museum", "name": "Hall"})
    pt(0.8, 0.1, {"amenity": "cafe", "name": "Bean"})
    pt(1.5, 0.1, {"amenity": "cafe", "name": "Outside"})  # beyond maxlon
    ways.append((10, {"building": "yes"}, ring(0.2, 0.4, 0.1)))
    ways.append((11, {"building": "house"}, ring(0.5, 0.4, 0.1)))
    ways.append((12, {"highway": "residential", "name": "Main"},
                 [pt(-0.3, 0.8), pt(0.5, 0.8), pt(1.3, 0.8)]))
    rels.append((100, {"type": "route", "route": "bus", "ref": "7"}, [("way", 12, "")]))
    return nodes, ways, rels


@pytest.fixture(scope="module")
def tile_path(tmp_path_factory):
    p = os.path.join(tmp_path_factory.mktemp("tile"), f"{Z}-{X}-{Y}.osm.pbf")
    with open(p, "wb") as f:
        f.write(encode_pbf(*_tile_elements(tile_bound(Z, X, Y))))
    return p


def _persisted(spark) -> set:
    return {int(i.id()) for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _tiles(layers):
    from pyspark.sql import functions as F

    dfs = [df.withColumn("zen_layer", F.lit(n)) for n, df in layers.items()]
    u = dfs[0]
    for df in dfs[1:]:
        u = u.unionByName(df, allowMissingColumns=True)
    u = u.withColumns({"tile_x": F.lit(X).cast("long"), "tile_y": F.lit(Y).cast("long")})
    return mvt_tiles(u, zoom=Z)


def _union_scan_widths(df) -> list[int]:
    """Partition count of every scan of the eval-union checkpoint (the
    LogicalRDD carrying ``zen_layer``) in ``df``'s plan, after any
    coalesce directly above it."""
    widths = []

    def walk(node, cap):
        kind = node.nodeName()
        if kind == "LogicalRDD" and re.search(r"\bzen_layer#", node.output().toString()):
            widths.append(min(cap, node.rdd().getNumPartitions()))
        cap = node.numPartitions() if kind == "Repartition" and not node.shuffle() else 1 << 30
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i), cap)

    walk(df._jdf.queryExecution().analyzed(), 1 << 30)
    return widths


def _exchange_width(tiles) -> int:
    plan = tiles._jdf.queryExecution().analyzed().toString()
    (width,) = re.findall(r"RepartitionByExpression \[tile_x#\d+L?, tile_y#\d+L?\], (\d+)", plan)
    return int(width)


def test_full_tile_sized_cuts_and_mvt(spark, tile_path):
    eng = NormalizeEngine()
    layers = full_tile(
        spark, tile_path, zoom=Z, bound=tile_bound(Z, X, Y), engine=eng,
        cache=True, layer_names=LAYERS,
    )
    try:
        names = {r["name"] for r in layers["pois"].collect()}
        assert {"Diner", "Crumb", "Hall", "Bean"} <= names
        assert "Outside" not in names  # Point outside the bound
        assert layers["buildings"].count() == 2

        # a handful of rows is one Arrow batch: every read of the eval
        # union is one partition, so each Python stage over it is one
        # task
        widths = _union_scan_widths(layers["pois"])
        assert widths and set(widths) == {1}

        tiles = _tiles(layers)
        assert _exchange_width(tiles) == 1
        (row,) = tiles.collect()
        decoded = decode_tile(bytes(row["mvt"]))
        assert row["n_features"] == sum(len(v["features"]) for v in decoded.values())
        n_rows = row["n_features"]
        assert n_rows == 6  # 4 POIs + 2 buildings

        # with small Arrow batches the width follows the row count, up
        # to the session's shuffle parallelism
        shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        old = spark.conf.get(BATCH_KEY)
        try:
            for batch in (2, 1):
                spark.conf.set(BATCH_KEY, str(batch))
                tiles = _tiles(layers)
                assert _exchange_width(tiles) == min(shuffle, math.ceil(n_rows / batch))
                (again,) = tiles.collect()
                assert bytes(again["mvt"]) == bytes(row["mvt"])
        finally:
            spark.conf.set(BATCH_KEY, old)
        assert math.ceil(n_rows / 2) < shuffle <= n_rows  # both regimes ran
    finally:
        eng.release()


def test_full_tile_release_frees_every_checkpoint(spark, tile_path):
    before = _persisted(spark)
    eng = NormalizeEngine()
    layers = full_tile(
        spark, tile_path, zoom=Z, bound=tile_bound(Z, X, Y), engine=eng,
        cache=True, layer_names=["pois"],
    )
    assert layers["pois"].count() >= 4
    # parse, elements and eval-union cuts
    assert len(_persisted(spark) - before) == 3
    eng.release()
    assert _persisted(spark) <= before
