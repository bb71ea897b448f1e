"""The benchmark's workloads.

Each workload has an untraced operation (the program's public entry
point, called as a user calls it) and a traced twin that rebuilds the
same pipeline from the layers' public functions, one span per layer,
materializing each layer's output before the next span starts. The
two produce outputs whose digests must agree.

* ``batch``: ``NormalizeEngine.process_unioned(cache=True)`` over the
  seeded synthetic elements (about 5k output features), written to a
  noop sink. This is the flagship's code path (fused derive + rule
  eval, the eval-union checkpoint, postprocess, tile assignment) at a
  size where fixed driver and job costs outweigh executor work. With
  two layers the engine takes local checkpoints; the parquet
  checkpoint that runs of five or more layers take is not measured.
* ``tile_requests``: one closed-loop client requesting dense z16 tiles
  one after another: ``sources.osmpbf.full_tile(bound=tile)`` on a
  small ``.osm.pbf``, then the tile's MVT. Plan building, job count
  and worker start-up dominate; it is the only workload on the
  bounded path (PBF decode, assembly, membership joins, unfused
  derive, ``geom.clip``, ``sinks.mvt``).
"""

from __future__ import annotations

import time

import inputs
import verify

# Layer subsets keep one operation within the benchmark's time budget
# on a 4-CPU host: all nine layers cost 2-3x more per operation.
# buildings + pois is the slice the DuckDB oracle re-derives (and the
# pair postprocess joins across); a tile request evaluates pois, the
# layer whose rules read the membership joins.
LAYERS = ["buildings", "pois"]
TILE_LAYERS = ["pois"]
BATCH_ORDERS = 1500
BATCH_ZOOM, BATCH_TILE_ZOOM = 20, 10
TILE_ZOOM = 16


def _materialize(df, rec: dict):
    """Cut the plan at a layer boundary: checkpoint the layer's output
    and count its rows, inside the layer's span."""
    out = df.localCheckpoint(eager=True)
    rec["rows_out"] = rec.get("rows_out", 0) + out.count()
    return out


def _storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def _checkpoint(spark, df, rec: dict):
    """The engine's eval-union stage cut as it runs for fewer than five
    layers (``NormalizeEngine._stage_cut`` in local mode): void columns
    cast to string, then an eager local checkpoint."""
    from pyspark.sql import functions as F

    void = [f.name for f in df.schema.fields if f.dataType.typeName() == "void"]
    if void:
        df = df.withColumns({c: F.col(c).cast("string") for c in void})
    before = _storage_bytes(spark)
    out = df.localCheckpoint(eager=True)
    rec["bytes_written"] = _storage_bytes(spark) - before
    rec["rows_out"] = out.count()
    return out


def _point_in_bound(bound):
    """The engine's bounded-run filter: Points outside ``bound`` go."""
    from pyspark.sql import functions as F

    minx, miny, maxx, maxy = bound
    inside = (
        (F.col("clon") >= minx) & (F.col("clon") <= maxx)
        & (F.col("clat") >= miny) & (F.col("clat") <= maxy)
    )
    return (F.col("geom_type") != "Point") | inside


def _union(dfs):
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


class Batch:
    # The JIT is still compiling through the first timed operations, so
    # one operation's wall and CPU vary by a quarter from run to run;
    # the median of two operations varies about half as much. A third
    # would put 48 runs too close to the benchmark's time budget.
    timed_ops = 2

    def __init__(self, spark, config, work: str, seed: int):
        self.spark = spark
        self.config = config
        self.tables = inputs.batch_tables(work, seed, BATCH_ORDERS)
        self.expected = verify.batch_expected(self.tables, BATCH_ORDERS)

    def _outcome(self, out, corrupt: bool = False):
        pdf = out.select("zen_layer", *verify.BUILDING_COLS).toPandas()
        if corrupt:  # drop one building: the checks must notice
            pdf = pdf.drop(pdf.index[pdf["zen_layer"] == "buildings"][:1])
        return verify.batch_outcome(pdf, self.expected)

    def op(self, index: int):
        """Run one batch; return (wall seconds, check) where
        ``check(corrupt=False)`` verifies the output and frees it."""
        from osmzen_spark.datagen import synthetic_elements
        from osmzen_spark.pipeline.normalize import NormalizeEngine

        t = time.perf_counter()
        engine = NormalizeEngine(self.config)
        out = engine.process_unioned(
            synthetic_elements(self.spark, self.tables),
            zoom=BATCH_ZOOM, tile_zoom=BATCH_TILE_ZOOM, cache=True, layer_names=LAYERS,
        )
        out.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t

        def check(corrupt: bool = False):
            try:
                return self._outcome(out, corrupt)
            finally:
                engine.release()

        return wall, check

    def traced_op(self, tr, index: int):
        from osmzen_spark.compiler.arrow_multilayer import (
            evaluate_all_layers_arrow,
            split_layer_views,
        )
        from osmzen_spark.datagen import synthetic_elements
        from osmzen_spark.pipeline.normalize import NormalizeEngine
        from osmzen_spark.pipeline.transforms import apply_transforms
        from osmzen_spark.tiling.cells import with_tile

        spark, cfg = self.spark, self.config
        engine = NormalizeEngine(cfg)
        use = {n: cfg.layers[n] for n in LAYERS}
        with tr.span("datagen") as rec:
            with tr.plan(rec):
                el = synthetic_elements(spark, self.tables)
            el = _materialize(el, rec)
            n_in = rec["rows_out"]
        with tr.span("compiler") as rec:
            with tr.plan(rec):
                union = evaluate_all_layers_arrow(
                    el, use, BATCH_ZOOM, LAYERS, derive_geometry=True
                )
            union = _materialize(union, rec)
            rec["match_ratio"] = rec["rows_out"] / max(1, n_in)
        with tr.span("checkpoint") as rec:
            union = _checkpoint(spark, union, rec)
        with tr.span("transforms") as rec:
            with tr.plan(rec):
                views = split_layer_views(
                    union, use, el.columns + ["area", "length", "clon", "clat"]
                )
                layers = {
                    n: apply_transforms(views[n], cfg.layers[n].transforms, BATCH_ZOOM)
                    for n in LAYERS
                }
            layers = {n: _materialize(df, rec) for n, df in layers.items()}
        with tr.span("postprocess") as rec:
            with tr.plan(rec):
                layers = engine.postprocess(layers, BATCH_ZOOM)
            rec["scans"] = verify.scan_count(layers.values())
            layers = {n: _materialize(df, rec) for n, df in layers.items()}
        with tr.span("tiling") as rec:
            with tr.plan(rec):
                out = _union([with_tile(df, BATCH_TILE_ZOOM) for df in layers.values()])
            out = _materialize(out, rec)
        return lambda corrupt=False: self._outcome(out, corrupt)


class TileRequests:
    timed_ops = 2  # as for Batch

    def __init__(self, spark, config, work: str, seed: int):
        self.spark = spark
        self.config = config
        self.work = work
        self.seed = seed
        self.expected = verify.tile_expected()

    @staticmethod
    def _for_tile(layers: dict, x: int, y: int):
        """One frame of the request's features, keyed to its tile."""
        from pyspark.sql import functions as F

        u = _union([df.withColumn("zen_layer", F.lit(n)) for n, df in layers.items()])
        return u.withColumns(
            {"tile_x": F.lit(x).cast("long"), "tile_y": F.lit(y).cast("long")}
        )

    def _outcome(self, rows, tile, corrupt: bool = False):
        if corrupt:  # cut the blob short: the checks must notice
            r = rows[0]
            rows = [{**r.asDict(), "mvt": bytes(r["mvt"])[:-3]}] + rows[1:]
        return verify.tile_outcome(rows, tile, self.expected)

    def op(self, index: int):
        from osmzen_spark.pipeline.normalize import NormalizeEngine
        from osmzen_spark.sinks.mvt import mvt_tiles
        from osmzen_spark.sources.osmpbf import full_tile
        from osmzen_spark.tiling.cells import tile_bound

        path, (z, x, y) = inputs.tile_pbf(self.work, self.seed, index)
        t = time.perf_counter()
        engine = NormalizeEngine(self.config)
        layers = full_tile(
            self.spark, path, zoom=TILE_ZOOM, bound=tile_bound(z, x, y),
            engine=engine, cache=True, layer_names=TILE_LAYERS,
        )
        rows = mvt_tiles(self._for_tile(layers, x, y), zoom=TILE_ZOOM).collect()
        wall = time.perf_counter() - t

        def check(corrupt: bool = False):
            try:
                return self._outcome(rows, (x, y), corrupt)
            finally:
                engine.release()

        return wall, check

    def traced_op(self, tr, index: int):
        from pyspark.sql import functions as F

        from osmzen_spark.compiler.arrow_multilayer import (
            evaluate_all_layers_arrow,
            split_layer_views,
        )
        from osmzen_spark.geom.clip import clip_and_wrap
        from osmzen_spark.geom.derive import with_geometry_stats
        from osmzen_spark.pipeline.assembly import assemble_elements
        from osmzen_spark.pipeline.membership import with_membership_columns
        from osmzen_spark.pipeline.normalize import NormalizeEngine
        from osmzen_spark.pipeline.transforms import apply_transforms
        from osmzen_spark.sinks.mvt import mvt_tiles
        from osmzen_spark.sources.osmpbf import parse_osm_pbf
        from osmzen_spark.sources.osmxml import raw_tables
        from osmzen_spark.tiling.cells import tile_bound, with_tile

        spark, cfg = self.spark, self.config
        path, (z, x, y) = inputs.tile_pbf(self.work, self.seed, index)
        bound = tile_bound(z, x, y)
        engine = NormalizeEngine(cfg)
        use = {n: cfg.layers[n] for n in TILE_LAYERS}
        with tr.span("sources") as rec:
            with tr.plan(rec):
                parsed = parse_osm_pbf(spark, path)
            parsed = _materialize(parsed, rec)
            t = raw_tables(parsed)
        with tr.span("assembly") as rec:
            with tr.plan(rec):
                elements = assemble_elements(
                    t.nodes, t.way_nodes, t.ways, t.relations, t.relation_members,
                    bound=bound,
                )
            elements = _materialize(elements, rec)
        with tr.span("geom.derive") as rec:
            with tr.plan(rec):
                derived = with_geometry_stats(elements)
            derived = _materialize(derived, rec)
        with tr.span("membership") as rec:
            with tr.plan(rec):
                rel_members = t.relation_members.join(
                    t.relations.select("relation_id", F.col("tags").alias("rel_tags")),
                    on="relation_id",
                ).select("relation_id", "member_type", "member_id", "rel_tags")
                wn = t.way_nodes.join(
                    t.ways.select("way_id", F.col("tags").alias("way_tags")), on="way_id"
                ).select("way_id", "node_id", "way_tags")
                derived = with_membership_columns(derived, rel_members, wn)
            derived = _materialize(derived, rec)
            n_in = rec["rows_out"]
        with tr.span("compiler") as rec:
            with tr.plan(rec):
                union = evaluate_all_layers_arrow(
                    derived.filter(_point_in_bound(bound)), use, TILE_ZOOM, TILE_LAYERS
                )
            union = _materialize(union, rec)
            rec["match_ratio"] = rec["rows_out"] / max(1, n_in)
        with tr.span("checkpoint") as rec:
            union = _checkpoint(spark, union, rec)
        with tr.span("transforms") as rec:
            with tr.plan(rec):
                views = split_layer_views(union, use, derived.columns)
                layers = {
                    n: apply_transforms(views[n], cfg.layers[n].transforms, TILE_ZOOM)
                    .filter(_point_in_bound(bound))
                    for n in TILE_LAYERS
                }
            layers = {n: _materialize(df, rec) for n, df in layers.items()}
        with tr.span("postprocess") as rec:
            with tr.plan(rec):
                layers = engine.postprocess(layers, TILE_ZOOM, bound=bound)
            rec["scans"] = verify.scan_count(layers.values())
            layers = {n: _materialize(df, rec) for n, df in layers.items()}
        with tr.span("geom.clip") as rec:
            with tr.plan(rec):
                clip_factors = {n: l.clip_factor for n, l in cfg.layers.items()}
                layers = {
                    n: df.drop("tags")
                    for n, df in clip_and_wrap(layers, bound, clip_factors).items()
                }
            layers = {n: _materialize(df, rec) for n, df in layers.items()}
        with tr.span("tiling") as rec:
            with tr.plan(rec):
                layers = {n: with_tile(df, TILE_ZOOM) for n, df in layers.items()}
            layers = {n: _materialize(df, rec) for n, df in layers.items()}
        with tr.span("sinks.mvt") as rec:
            with tr.plan(rec):
                tiles = mvt_tiles(self._for_tile(layers, x, y), zoom=TILE_ZOOM)
            rows = tiles.collect()
            rec["rows_out"] = len(rows)
            rec["bytes"] = sum(len(r["mvt"]) for r in rows)
            rec["tiles"] = len(rows)
        return lambda corrupt=False: self._outcome(rows, (x, y), corrupt)


WORKLOADS = {"batch": Batch, "tile_requests": TileRequests}
