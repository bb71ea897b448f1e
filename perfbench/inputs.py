"""Seeded input synthesis for the benchmark.

Every input is a pure function of the seed and is cached per seed
under the benchmark's work directory, so repeated runs with one seed
read identical bytes and the synthesis cost stays out of every timed
figure. The program under test only ever receives these files.

* ``batch_tables``: ``lineitem`` / ``orders`` parquet tables with the
  columns ``osmzen_spark.datagen`` reads. The key multiset is fixed
  (TPC-H-shaped orders with 1-7 line items); the seed permutes the row
  order and the file's row-group split, so every seed yields the same
  normalized features through a different physical layout.
* ``tile_pbf``: one dense z16 tile as a small ``.osm.pbf``. The seed
  picks the tile inside a fixed latitude band and jitters every
  position; the element mix is fixed.
"""

from __future__ import annotations

import os
import random

# The element mix of one synthetic z16 cell. Each entry is one
# tagged OSM element; geometry comes from the layout below. Sizes are
# chosen far from the rule thresholds (area tiers, min_zoom gates) so
# the per-(layer, kind) histogram does not depend on where the seed
# puts the cell inside the latitude band.
_BUILDING_TAGS = [
    {"building": "yes"},
    {"building": "yes", "building:levels": "4"},
    {"building": "residential", "name": "House"},
    {"building": "yes", "height": "21"},
    {"building": "commercial", "building:levels": "8", "name": "Office"},
    {"building": "yes", "amenity": "school", "name": "School"},
]
_POI_TAGS = [
    {"amenity": "restaurant", "cuisine": "pizza", "name": "Pizzeria"},
    {"shop": "supermarket", "name": "Market"},
    {"tourism": "hotel", "name": "Hotel"},
    {"amenity": "cafe", "name": "Cafe"},
    {"amenity": "pharmacy", "name": "Pharmacy"},
    {"amenity": "bank", "name": "Bank"},
    {"railway": "station", "name": "Central", "public_transport": "station"},
    {"highway": "bus_stop", "name": "Stop"},
    {"entrance": "main"},
    {"addr:housenumber": "12", "addr:street": "Main Street"},
]
_ROAD_TAGS = [
    {"highway": "primary", "name": "First Avenue", "ref": "A 1"},
    {"highway": "secondary", "name": "Second Street"},
    {"highway": "residential", "name": "Elm Street"},
    {"highway": "residential", "name": "Oak Street"},
    {"highway": "footway"},
    {"highway": "cycleway"},
    {"highway": "service"},
    {"railway": "rail", "name": "Main Line"},
]
_AREA_TAGS = [
    ({"leisure": "park", "name": "City Park"}, "big"),
    ({"landuse": "residential"}, "big"),
    ({"natural": "water", "name": "Pond"}, "small"),
    ({"landuse": "grass"}, "small"),
]

BUILDINGS_PER_CELL = 24

# latitude band of every synthetic cell (degrees); z16 tiles in it
_LAT_BAND = (30.0, 50.0)
_LON_BAND = (-120.0, 120.0)


def _tile_bound(z: int, x: int, y: int) -> tuple[float, float, float, float]:
    from osmzen_spark.tiling.cells import tile_bound

    return tile_bound(z, x, y)


def _tile_of(lon: float, lat: float, z: int) -> tuple[int, int]:
    import math

    n = 1 << z
    x = int((lon + 180.0) / 360.0 * n)
    r = math.radians(lat)
    y = int((1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.pi) / 2.0 * n)
    return x, y


class _Ids:
    """Monotone id allocator: node/way/relation id spaces are disjoint
    tables in OSM, so one counter per type keeps ids unique."""

    def __init__(self, base: int):
        self.next = {"node": base, "way": base, "relation": base}

    def take(self, kind: str) -> int:
        self.next[kind] += 1
        return self.next[kind]


def _cell_elements(rng: random.Random, bound, ids: _Ids, nodes, ways, rels) -> None:
    """Append one cell's elements (in the cell's bound) to the lists.

    ``nodes``: (id, lon, lat, tags); ``ways``: (id, tags, refs);
    ``rels``: (id, tags, [(type, ref, role)]) — the encode_pbf shapes."""
    minx, miny, maxx, maxy = bound
    w, h = maxx - minx, maxy - miny

    def pt(u: float, v: float, tags: dict | None = None) -> int:
        nid = ids.take("node")
        nodes.append((nid, minx + u * w, maxy - v * h, tags or {}))
        return nid

    def jit(a: float) -> float:
        return a + rng.uniform(-0.004, 0.004)

    def ring(u0, v0, du, dv) -> list[int]:
        a = pt(jit(u0), jit(v0))
        b = pt(jit(u0 + du), jit(v0))
        c = pt(jit(u0 + du), jit(v0 + dv))
        d = pt(jit(u0), jit(v0 + dv))
        return [a, b, c, d, a]

    # buildings: a 4 x 6 grid in the middle band of the cell
    slots = [(i, j) for i in range(6) for j in range(4)]
    rng.shuffle(slots)
    for n, (i, j) in enumerate(slots[:BUILDINGS_PER_CELL]):
        tags = dict(_BUILDING_TAGS[n % len(_BUILDING_TAGS)])
        ways.append((ids.take("way"), tags, ring(0.22 + 0.1 * i, 0.3 + 0.1 * j, 0.06, 0.06)))

    # points of interest along the top band
    for n, tags in enumerate(_POI_TAGS):
        pt(jit(0.1 + 0.08 * n), jit(0.12), dict(tags))
    pt(jit(0.5), jit(0.2), {"place": "neighbourhood", "name": "Midtown"})
    pt(jit(0.85), jit(0.2), {"natural": "peak", "name": "Hill", "ele": "120"})

    # roads: horizontal and vertical lines; the first two run past the
    # cell edge so clipping has work to do
    road_ids = []
    for n, tags in enumerate(_ROAD_TAGS):
        if n % 2 == 0:
            v = 0.25 + 0.09 * n
            u0, u1 = (-0.3, 1.3) if n < 4 else (0.05, 0.95)
            refs = [pt(u0, jit(v)), pt(jit(0.5), jit(v)), pt(u1, jit(v))]
        else:
            u = 0.15 + 0.1 * n
            v0, v1 = (-0.3, 1.3) if n < 4 else (0.05, 0.95)
            refs = [pt(jit(u), v0), pt(jit(u), jit(0.5)), pt(jit(u), v1)]
        wid = ids.take("way")
        ways.append((wid, dict(tags), refs))
        road_ids.append(wid)
    # a gate on a road
    pt(jit(0.6), jit(0.9), {"barrier": "gate"})

    # areas: two larger than the cell (clipped), two small
    for n, (tags, size) in enumerate(_AREA_TAGS):
        if size == "big":
            r = ring(-0.2 + 0.05 * n, -0.2, 1.3, 1.3)
        else:
            r = ring(0.05 + 0.45 * (n - 2), 0.78, 0.18, 0.12)
        ways.append((ids.take("way"), dict(tags), r))
    # a stream
    ways.append(
        (ids.take("way"), {"waterway": "stream", "name": "Brook"},
         [pt(jit(0.02), jit(0.95)), pt(jit(0.4), jit(0.97)), pt(jit(0.98), jit(0.93))])
    )
    # a cliff (earth layer)
    ways.append(
        (ids.take("way"), {"natural": "cliff"},
         [pt(jit(0.9), jit(0.3)), pt(jit(0.93), jit(0.6))])
    )

    # multipolygon forest with a hole
    outer = ring(0.6, 0.62, 0.3, 0.14)
    inner = ring(0.7, 0.66, 0.05, 0.05)
    wo, wi = ids.take("way"), ids.take("way")
    ways.append((wo, {}, outer))
    ways.append((wi, {}, inner))
    rels.append(
        (ids.take("relation"), {"type": "multipolygon", "landuse": "forest", "name": "Wood"},
         [("way", wo, "outer"), ("way", wi, "inner")])
    )
    # administrative boundary relation around most of the cell
    wb = ids.take("way")
    ways.append((wb, {}, ring(0.03, 0.03, 0.94, 0.94)))
    rels.append(
        (ids.take("relation"),
         {"type": "boundary", "boundary": "administrative", "admin_level": "8", "name": "Ward"},
         [("way", wb, "outer")])
    )
    # route relations over the roads
    rels.append(
        (ids.take("relation"), {"type": "route", "route": "bus", "ref": "7", "name": "Bus 7"},
         [("way", road_ids[0], ""), ("way", road_ids[2], "")])
    )
    rels.append(
        (ids.take("relation"),
         {"type": "route", "route": "bicycle", "network": "lcn", "ref": "3"},
         [("way", road_ids[5], ""), ("way", road_ids[2], "")])
    )
    rels.append(
        (ids.take("relation"), {"type": "route", "route": "train", "name": "Express"},
         [("way", road_ids[7], "")])
    )


def _random_tile(rng: random.Random, z: int = 16) -> tuple[int, int]:
    lon = rng.uniform(*_LON_BAND)
    lat = rng.uniform(*_LAT_BAND)
    return _tile_of(lon, lat, z)


def _write_atomic(path: str, data: bytes) -> None:
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def tile_pbf(work: str, seed: int, index: int) -> tuple[str, tuple[int, int, int]]:
    """The ``index``-th tile request of ``seed``: (path, (z, x, y))."""
    from osmzen_spark.sources.osmpbf import encode_pbf

    rng = random.Random(f"tile:{seed}:{index}")
    x, y = _random_tile(rng)
    d = os.path.join(work, f"seed{seed}", "tiles")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"16-{x}-{y}-{index}.osm.pbf")
    if not os.path.exists(path):
        nodes, ways, rels = [], [], []
        base = rng.randrange(1, 1 << 30) * 1000
        _cell_elements(rng, _tile_bound(16, x, y), _Ids(base), nodes, ways, rels)
        _write_atomic(path, encode_pbf(nodes, ways, rels))
    return path, (16, x, y)


def batch_tables(work: str, seed: int, n_orders: int) -> str:
    """Directory holding seed-permuted ``lineitem.parquet`` and
    ``orders.parquet`` with ``n_orders`` orders (the sf0.001 scale is
    1500). Keys and line counts are fixed; the seed permutes rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(work, f"seed{seed}", f"orders{n_orders}")
    done = os.path.join(d, "_SUCCESS")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    # fixed key structure: TPC-H-like sparse order keys, 1-7 lines each
    base = random.Random(f"orders:{n_orders}")
    okeys, lkeys, lnums = [], [], []
    k = 0
    for _ in range(n_orders):
        k += base.choice((1, 2, 3, 5, 6, 7))
        okeys.append(k)
        for ln in range(1, base.randint(1, 7) + 1):
            lkeys.append(k)
            lnums.append(ln)
    rng = random.Random(f"permute:{seed}")
    oi = list(range(len(okeys)))
    li = list(range(len(lkeys)))
    rng.shuffle(oi)
    rng.shuffle(li)
    orders = pa.table({"o_orderkey": pa.array([okeys[i] for i in oi], pa.int64())})
    lineitem = pa.table(
        {
            "l_orderkey": pa.array([lkeys[i] for i in li], pa.int64()),
            "l_linenumber": pa.array([lnums[i] for i in li], pa.int32()),
        }
    )
    pq.write_table(orders, os.path.join(d, "orders.parquet"),
                   row_group_size=max(1, len(okeys) // rng.randint(1, 4)))
    pq.write_table(lineitem, os.path.join(d, "lineitem.parquet"),
                   row_group_size=max(1, len(lkeys) // rng.randint(1, 4)))
    open(done, "w").close()
    return d
