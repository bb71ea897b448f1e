"""Config-coverage smoke sweep (the reference's yaml_test.go:17-105
analog): every compiled rule of every layer is (a) evaluated against
two generic probe features with no compile/eval errors — predicates,
min_zooms AND emit expressions, like the reference's Debug mode that
disables short-circuiting — and (b) *matched* by a generated per-rule
probe feature, proving each of the ~556 predicates is satisfiable and
its emit/min_zoom expressions evaluate on a matching row.

Runs entirely on the Arrow path (pyarrow RecordBatch + numpy, no
SparkSession): the parity suite (test_arrow_parity.py) feeds the same
generated probes through the production evaluator and the Column-path
oracle."""

from __future__ import annotations

import itertools

import numpy as np
import pyarrow as pa
import pytest

from osmzen_spark.compiler.arrow_layer import ArrowLayerPlan
from osmzen_spark.compiler.loader import load_config
from osmzen_spark.compiler.vectorized import BatchContext

GEOM_EXPAND = {
    "point": "Point",
    "multipoint": "MultiPoint",
    "line": "LineString",
    "linestring": "LineString",
    "multilinestring": "MultiLineString",
    "polygon": "Polygon",
    "multipolygon": "MultiPolygon",
}

_CONFIG = load_config()
_PLANS = {name: ArrowLayerPlan(layer) for name, layer in _CONFIG.layers.items()}


class Constraints:
    """Accumulated requirements for a probe feature; merge detects
    conflicts so `any` branches that contradict the conjunction are
    rejected and the next branch is tried."""

    def __init__(self):
        self.tags: dict[str, str] = {}
        self.geom: str | None = None
        self.area_min: float | None = None
        self.area_max: float | None = None
        self.vol_min: float | None = None
        self.vol_max: float | None = None

    def clone(self):
        c = Constraints()
        c.tags = dict(self.tags)
        c.geom = self.geom
        c.area_min, c.area_max = self.area_min, self.area_max
        c.vol_min, c.vol_max = self.vol_min, self.vol_max
        return c

    def set_tag(self, k, v) -> bool:
        if k in self.tags and self.tags[k] != v:
            return False
        self.tags[k] = v
        return True

    def set_geom(self, g) -> bool:
        if self.geom is not None and self.geom != g:
            return False
        self.geom = g
        return True


def _branches(node, base: Constraints):
    """Yield Constraints candidates satisfying the positive parts of a
    condition tree (negations are left to the actual predicate check)."""
    if isinstance(node, list):
        gens = [lambda b, n=n: _branches(n, b) for n in node]
        yield from _conjoin(gens, base)
        return
    if not isinstance(node, dict):
        yield base
        return
    gens = [lambda b, k=k, v=v: _entry(k, v, b) for k, v in node.items()]
    yield from _conjoin(gens, base)


def _conjoin(gens, base):
    if not gens:
        yield base
        return
    head, rest = gens[0], gens[1:]
    for c in itertools.islice(head(base), 6):
        yield from _conjoin(rest, c)


def _entry(key, val, base: Constraints):
    if key == "all":
        items = val if isinstance(val, list) else [val]
        yield from _branches(items, base)
        return
    if key == "any":
        items = val if isinstance(val, list) else [{k: v} for k, v in val.items()]
        for item in items:
            yield from _branches(item, base.clone())
        return
    if key in ("not", "none", "way"):
        yield base  # hope defaults satisfy; predicate check decides
        return
    if key == "osm_tags":
        yield from _branches(val, base)
        return
    if key in ("geometry_types", "geom_type"):
        names = val if isinstance(val, list) else [val]
        for n in names:
            c = base.clone()
            if c.set_geom(GEOM_EXPAND.get(str(n).lower(), str(n))):
                yield c
        return
    if key == "way_area":
        c = base.clone()
        if "min" in val:
            c.area_min = max(c.area_min or 0, float(val["min"]))
        if "max" in val:
            c.area_max = float(val["max"])
        yield c
        return
    if key == "volume":
        c = base.clone()
        if "min" in val:
            c.vol_min = max(c.vol_min or 0, float(val["min"]))
        if "max" in val:
            c.vol_max = float(val["max"])
        yield c
        return
    if key == "compare":
        lhs, op, rhs = val
        if isinstance(lhs, dict) and set(lhs) == {"col"} and isinstance(rhs, (int, float)):
            v = {"gte": rhs, "gt": rhs + 1, "lte": rhs, "lt": rhs - 1}[op]
            c = base.clone()
            if c.set_tag(str(lhs["col"]), repr(float(v)) if isinstance(v, float) else str(v)):
                yield c
            return
        yield base
        return
    # plain tag conditions
    if isinstance(val, bool):
        c = base.clone()
        if not val:
            yield c  # absence: default probe has no such tag
            return
        if key not in c.tags:
            c.tags[key] = "yes"
        yield c
        return
    if isinstance(val, list):
        # list values are LOWERCASED at compile and compared against the
        # raw tag (ref:conditions.go:495-506) — so only a lowercase tag
        # value can match; probe with the lowered form
        for v in val:
            c = base.clone()
            if c.set_tag(key, "" if v is None else str(v).lower()):
                if v is None:
                    c.tags.pop(key, None)
                yield c
        return
    c = base.clone()
    if c.set_tag(key, str(val)):
        yield c


def _materialize(c: Constraints, layer_geoms) -> dict:
    geom = c.geom or (layer_geoms[0] if layer_geoms else "Point")
    area = 0.0
    if c.area_min is not None or c.area_max is not None or c.vol_min is not None:
        lo = c.area_min if c.area_min is not None else 1.0
        hi = c.area_max if c.area_max is not None else lo + 100.0
        area = min(lo + 1.0, (lo + hi) / 2.0) if hi > lo else lo
        if geom in ("Point", "MultiPoint", "LineString", "MultiLineString"):
            geom = "Polygon"  # area conditions imply polygons
    tags = dict(c.tags)
    if c.vol_min is not None and "height" not in tags:
        if area <= 0:
            area = 10.0
        tags["height"] = str(c.vol_min / area + 1.0)
    return {"tags": tags, "geom_type": geom, "area": area, "length": 10.0}


def _batch(rows: list[dict]) -> BatchContext:
    batch = pa.RecordBatch.from_pydict(
        {
            "tags": pa.array([r["tags"] for r in rows], type=pa.map_(pa.string(), pa.string())),
            "geom_type": pa.array([r["geom_type"] for r in rows]),
            "area": pa.array([float(r["area"]) for r in rows], type=pa.float64()),
            "length": pa.array([float(r["length"]) for r in rows], type=pa.float64()),
        }
    )
    keys = sorted(set().union(*[set(p.needed_keys) for p in _PLANS.values()]))
    return BatchContext(batch, keys, zoom=20)


def generated_probes(layer_name: str) -> tuple[list[tuple[int, dict]], list[int]]:
    """Per rule of the layer, the first constraint-walker probe its
    predicate accepts: ([(rule index, probe)], [unreached rule indices]).
    A probe is {tags, geom_type, area, length}."""
    layer = _CONFIG.layers[layer_name]
    plan = _PLANS[layer_name]
    probes, unreached = [], []
    for i, rule in enumerate(layer.rules):
        for c in itertools.islice(_branches(rule.when, Constraints()), 40):
            probe = _materialize(c, layer.geometry_types)
            if bool(plan.preds[i](_batch([probe]))[0]):
                probes.append((i, probe))
                break
        else:
            unreached.append(i)
    return probes, unreached


GENERIC_PROBES = [
    {"tags": {"name": "probe"}, "geom_type": "Point", "area": 0.0, "length": 0.0},
    {
        "tags": {"building": "yes", "name": "probe", "building:levels": "3"},
        "geom_type": "Polygon",
        "area": 1200.0,
        "length": 140.0,
    },
]


@pytest.mark.parametrize("layer_name", list(_CONFIG.layers))
def test_every_rule_evaluates_on_generic_probes(layer_name):
    """yaml_test.go analog: every predicate, min_zoom and emit
    expression of the layer evaluates without error on probe features
    (no short-circuit: ALL rules evaluated, matching or not)."""
    plan = _PLANS[layer_name]
    b = _batch(GENERIC_PROBES)
    for i, pred in enumerate(plan.preds):
        out = pred(b)
        assert out.dtype == bool and len(out) == 2, f"rule {i}"
    for fn in plan.mz_fns:
        vals, ok = fn(b)
        assert len(vals) == 2
    for key, fns in plan.emit_fns.items():
        for fn in fns:
            assert len(fn(b)) == 2, f"emit {key}"


@pytest.mark.parametrize("layer_name", list(_CONFIG.layers))
def test_every_rule_reachable_by_generated_probe(layer_name):
    """For EVERY rule, the constraint-walker derives a probe feature its
    predicate accepts, and the rule's min_zoom + emit expressions
    evaluate on that matching row. Proves all ~556 ported predicates
    are satisfiable (a port typo that makes a rule dead fails here)."""
    layer = _CONFIG.layers[layer_name]
    plan = _PLANS[layer_name]
    probes, unreached = generated_probes(layer_name)
    for i, probe in probes:
        b = _batch([probe])
        mzi = plan.mz_of_rule[i]
        if mzi >= 0:
            plan.mz_fns[mzi](b)
        for key, node_of_rule in plan.emit_plan.items():
            nid = node_of_rule[i]
            if nid >= 0:
                plan.emit_fns[key][nid](b)
    assert not unreached, (
        f"{layer_name}: rules with no satisfying probe found: {unreached} "
        f"(of {len(layer.rules)})"
    )


def test_total_rule_count():
    total = sum(len(l.rules) for l in _CONFIG.layers.values())
    assert total >= 550, total  # SURVEY.md §2.H: ~556 rules over 9 layers


def test_none_in_tag_list_matches_missing_tag_both_paths():
    """The Column-path fix for YAML null entries in tag value lists
    (conditions.py): a null entry must match a MISSING tag, matching the
    Arrow path, not the literal string 'none'."""
    from osmzen_spark.compiler.vectorized import compile_condition_np

    node = {"crossing": ["no", None]}
    keys: set[str] = set()
    pred = compile_condition_np(node, keys)
    b = _batch(
        [
            {"tags": {"highway": "x"}, "geom_type": "Point", "area": 0.0, "length": 0.0},
            {"tags": {"crossing": "no"}, "geom_type": "Point", "area": 0.0, "length": 0.0},
            {"tags": {"crossing": "none"}, "geom_type": "Point", "area": 0.0, "length": 0.0},
        ]
    )
    assert list(pred(b)) == [True, True, False]
