"""Parity: the production rule evaluator (one
compiler/arrow_multilayer.py pass + split_layer_views, as
NormalizeEngine.process runs it) must produce row-identical results to
the Catalyst Column path (CompiledLayer.evaluate, the test oracle).

The corpus is a set of hand-picked probes that exercise every
condition/expression/function family, plus the per-rule probes that
tests/test_rule_coverage.py generates for every rule of the compared
layers (their area/length supplied as columns, not derived)."""

from osmzen_spark.compiler.arrow_multilayer import (
    evaluate_all_layers_arrow,
    split_layer_views,
)
from osmzen_spark.geom.derive import geometry_from_rings, point_geometry
from osmzen_spark.pipeline.normalize import NormalizeEngine

from conftest import PARKING_GARAGE_RING, PARKING_GARAGE_TAGS, make_elements
from test_rule_coverage import generated_probes

SQ = geometry_from_rings([[(0.0, 0.0), (0.01, 0.0), (0.01, 0.01), (0.0, 0.01)]], "Polygon")
BIG = geometry_from_rings([[(0.0, 0.0), (0.3, 0.0), (0.3, 0.3), (0.0, 0.3)]], "Polygon")
LINE = geometry_from_rings([[(0.0, 0.0), (0.01, 0.0), (0.02, 0.001)]], "LineString")
PT = point_geometry(12.3, 45.6)

PROBES = [
    (1, "way", PARKING_GARAGE_TAGS, "Polygon", geometry_from_rings([PARKING_GARAGE_RING], "Polygon")),
    (2, "way", {"building": "yes", "building:levels": "7", "name": "Tower"}, "Polygon", SQ),
    (3, "node", {"amenity": "restaurant", "cuisine": "pizza", "name": "Pizza!"}, "Point", PT),
    (4, "node", {"waterway": "waterfall", "height": "41m", "name": "Falls"}, "Point", PT),
    (5, "way", {"leisure": "park", "name": "Big Park"}, "Polygon", BIG),
    (6, "way", {"highway": "motorway", "name": "M1", "ref": "M 1", "network": "GB:motorway"}, "LineString", LINE),
    (7, "way", {"highway": "residential", "name": "North Main Street", "oneway": "-1"}, "LineString", LINE),
    (8, "node", {"place": "city", "name": "Bigtown", "population": "2000000", "capital": "yes"}, "Point", PT),
    (9, "way", {"natural": "wood", "name": "Forest"}, "Polygon", BIG),
    (10, "node", {"tourism": "hotel", "name": "Inn (closed)"}, "Point", PT),
    (11, "way", {"aeroway": "aerodrome", "name": "Airport", "iata": "abc", "passenger_count": "2000000"}, "Polygon", BIG),
    (12, "node", {"natural": "peak", "ele": "1234", "name": "Peak"}, "Point", PT),
    (13, "way", {"amenity": "parking", "parking": "multi-storey", "building": "yes", "building:levels": "3"}, "Polygon", SQ),
    (14, "node", {"shop": "supermarket", "name": "Shop"}, "Point", PT),
    (15, "way", {"landuse": "military", "military": "danger_area"}, "Polygon", BIG),
    (16, "node", {"highway": "motorway_junction", "ref": "12", "exit_to": "A1"}, "Point", PT),
    (17, "way", {"waterway": "river", "name": "River"}, "LineString", LINE),
    (18, "node", {"place": "country", "name": "Land", "population": "8000000"}, "Point", PT),
    (19, "way", {"boundary": "administrative", "admin_level": "4"}, "Polygon", BIG),
    (20, "relation", {"route": "train", "service": "high_speed", "name": "X"}, "LineString", LINE),
    (21, "way", {"highway": "cycleway", "bicycle": "designated", "name": "Bike Path"}, "LineString", LINE),
]

# Layers whose Column-path plan is still cheap enough to build (pois and
# landuse cost minutes of py4j per plan — the reason the Arrow evaluator
# exists; their parity is covered by the fixture goldens + oracle
# checks instead).
COMPARED = ("water", "earth", "places", "roads", "buildings", "boundaries", "transit")


def _generated_rows(spark, schema, first_id: int):
    """The per-rule probes of every compared layer as derived rows."""
    rows = []
    for name in COMPARED:
        for _rule, p in generated_probes(name)[0]:
            gt = p["geom_type"]
            geom = PT if "Point" in gt else LINE if "LineString" in gt else SQ
            rows.append(
                {
                    "element_id": first_id + len(rows),
                    "element_type": "node" if "Point" in gt else "way",
                    "tags": p["tags"],
                    "geom_type": gt,
                    "geometry": geom,
                    "area": float(p["area"]),
                    "length": float(p["length"]),
                    "clon": 0.0,
                    "clat": 0.0,
                }
            )
    return spark.createDataFrame(rows, schema=schema)


def _rows(df):
    out = {}
    for r in df.collect():
        d = r.asDict()
        key = (d["id"], d.get("label_placement"), d.get("match_idx"))
        # normalize floats for comparison
        out[key] = {
            k: (round(v, 9) if isinstance(v, float) else v)
            for k, v in sorted(d.items())
            if k not in ("geometry",)
        }
    return out


def test_arrow_column_parity(spark):
    """One production pass over the compared layers (plus pois, so the
    union stores `bicycle` as typed variant columns: roads string, pois
    boolean) split into per-layer views; each compared view equals the
    Column-path oracle row for row."""
    engine = NormalizeEngine()
    hand = engine.derive(make_elements(spark, PROBES))
    derived = hand.unionByName(_generated_rows(spark, hand.schema, len(PROBES) + 1))
    use = {n: engine.config.layers[n] for n in COMPARED + ("pois",)}
    union = evaluate_all_layers_arrow(derived, use, 20, list(use)).cache()
    views = split_layer_views(union, use, derived.columns)
    try:
        assert {"__emit_bicycle@string", "__emit_bicycle@boolean"} <= set(union.columns)
        assert dict(views["roads"].dtypes)["bicycle"] == "string"
        assert dict(views["pois"].dtypes)["bicycle"] == "boolean"
        matched = set()
        for name in COMPARED:
            a = _rows(views[name])
            c = _rows(engine.config.layers[name].evaluate(derived, 20))
            assert set(a) == set(c), f"{name}: row keys differ: {set(a) ^ set(c)}"
            for k in a:
                assert a[k] == c[k], f"{name} row {k}:\n arrow={a[k]}\n column={c[k]}"
            matched |= {(name, k[2]) for k in a}
        # every rule of every compared layer won at least one row
        every = {(n, i) for n in COMPARED for i in range(len(engine.config.layers[n].rules))}
        assert matched == every, sorted(every - matched)
    finally:
        union.unpersist()


def test_rule_payload_cached_across_fresh_layer_dicts(spark):
    """NormalizeEngine.process hands the evaluator a fresh {name: layer}
    dict on every call; the compiled plan and its pickled rule payload
    are keyed on the layer objects, so a second call reuses them."""
    from osmzen_spark.compiler.arrow_multilayer import _cached_plan

    layers = NormalizeEngine().config.layers
    names = ["buildings", "pois"]
    plan_a, payload_a = _cached_plan({n: layers[n] for n in names}, names)
    plan_b, payload_b = _cached_plan({n: layers[n] for n in names}, names)
    assert payload_a is payload_b and plan_a is plan_b
    # a different layer subset is a different plan
    _plan_c, payload_c = _cached_plan({"pois": layers["pois"]}, ["pois"])
    assert payload_c is not payload_a
