"""Output checks behind ``correct`` / ``failed``.

* batch: the buildings slice is compared row for row with the DuckDB
  re-derivation in ``__spark_entry__.oracle_sql()["normalize_buildings"]``
  (an independent SQL model of datagen, the Mercator kernels, the rule
  chain and tile assignment); every layer's per-kind counts must equal
  the histogram pinned in ``expected.json``.
* tile_requests: the one MVT blob must decode with
  ``sinks.mvt.decode_tile`` into version-2 layers of the default extent,
  hold as many features as the encoder reported, and its
  per-(layer, kind) counts must equal the pinned histogram.

Inputs are built so these expectations hold for every seed (see
``inputs``); the digest of each output is recorded so a traced run can
be compared with an untraced one.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
from collections import Counter

_EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _pinned(key: str) -> dict[str, int] | None:
    with open(_EXPECTED) as f:
        return json.load(f).get(key)


def _norm(v) -> str:
    """Representation-exact value text (no cross-type coercion)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "NULL" if v != v else repr(v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return str(v)


def _digest(lines) -> str:
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


def _hist_problems(observed: Counter, pinned: dict | None, what: str) -> list[str]:
    if pinned is None:
        return [f"{what}: no pinned histogram"]
    obs = {k: int(v) for k, v in observed.items()}
    if obs == pinned:
        return []
    diff = {
        k: (obs.get(k, 0), pinned.get(k, 0))
        for k in sorted(set(obs) | set(pinned))
        if obs.get(k, 0) != pinned.get(k, 0)
    }
    return [f"{what}: histogram differs (observed, pinned): {diff}"]


class Outcome:
    def __init__(self, features: int, digest: str, histogram: dict, problems: list[str]):
        self.features = features
        self.digest = digest
        self.histogram = histogram
        self.problems = problems


BUILDING_COLS = ("id", "kind", "min_zoom", "height", "area", "tile_x", "tile_y")
MVT_EXTENT = 4096  # mvt_tiles' default


@functools.cache
def batch_expected(tables_dir: str, orders: int) -> dict:
    """DuckDB oracle rows for the buildings slice + pinned histogram
    (computed once per process, before the timed set-up starts)."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()["normalize_buildings"]
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW lineitem AS SELECT * FROM read_parquet("
            f"'{os.path.join(tables_dir, 'lineitem.parquet')}')"
        )
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
    finally:
        con.close()
    idx = [cols.index(c) for c in BUILDING_COLS]
    lines = Counter("|".join(_norm(r[i]) for i in idx) for r in rows)
    return {"buildings": lines, "histogram": _pinned(f"batch/orders{orders}")}


def batch_outcome(pdf, expected: dict) -> Outcome:
    """``pdf``: the output rows (pandas) with zen_layer + BUILDING_COLS."""
    problems = []
    hist = Counter(f"{l}/{k}" for l, k in zip(pdf["zen_layer"], pdf["kind"]))
    b = pdf[pdf["zen_layer"] == "buildings"]
    got = Counter(
        "|".join(_norm(v) for v in row)
        for row in b[list(BUILDING_COLS)].itertuples(index=False, name=None)
    )
    if got != expected["buildings"]:
        missing = sum((expected["buildings"] - got).values())
        extra = sum((got - expected["buildings"]).values())
        problems.append(
            f"buildings differ from the DuckDB oracle: {missing} missing, {extra} unexpected"
        )
    problems += _hist_problems(hist, expected["histogram"], "batch")
    lines = (
        "|".join(_norm(v) for v in row)
        for row in pdf[["zen_layer", *BUILDING_COLS]].itertuples(index=False, name=None)
    )
    return Outcome(len(pdf), _digest(lines), dict(hist), problems)


def tile_expected() -> dict | None:
    return _pinned("tile_requests")


def tile_outcome(rows, tile: tuple[int, int], pinned: dict | None) -> Outcome:
    """``rows``: collected ``mvt_tiles`` output for one requested tile."""
    from osmzen_spark.sinks.mvt import decode_tile

    problems = []
    keys = [(r["tile_x"], r["tile_y"]) for r in rows]
    if keys != [tile]:
        problems.append(f"expected exactly tile {tile}, got {keys}")
    hist: Counter = Counter()
    lines = []
    n_reported = sum(int(r["n_features"]) for r in rows)
    for r in rows:
        try:
            layers = decode_tile(bytes(r["mvt"]))
        except Exception as e:  # a corrupt blob is a failed output
            problems.append(f"tile {keys}: blob does not decode: {e!r}")
            continue
        for lname, layer in layers.items():
            if (layer["version"], layer["extent"]) != (2, MVT_EXTENT):
                problems.append(
                    f"tile {keys} layer {lname}: version {layer['version']}, "
                    f"extent {layer['extent']}"
                )
            for f in layer["features"]:
                hist[f"{lname}/{f['properties'].get('kind')}"] += 1
                lines.append(
                    json.dumps(
                        [lname, f["id"], f["geom_type"], f["rings"],
                         sorted(f["properties"].items())],
                        default=str,
                    )
                )
    if len(lines) != n_reported:
        problems.append(f"decoded {len(lines)} features, encoder reported {n_reported}")
    problems += _hist_problems(hist, pinned, "tile")
    return Outcome(len(lines), _digest(lines), dict(hist), problems)


def scan_count(dfs) -> int:
    """Leaf scans (file scans and checkpointed-RDD scans) in the
    physical plans of ``dfs``."""
    n = 0
    for df in dfs:
        plan = df._jdf.queryExecution().executedPlan().toString()
        n += plan.count("FileScan") + plan.count("Scan ExistingRDD")
    return n
