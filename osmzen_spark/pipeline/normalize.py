"""NormalizeEngine: the full osmzen normalization pipeline, Spark-first.

Lifecycle mirrors ref:process.go Process() (SURVEY.md §3) with Spark
stage boundaries:

  1. derive geometry columns (area/length/clon/clat) and run every
     layer's first-match rule eval in ONE Arrow-vectorized mapInArrow
     pass (compiler.arrow_multilayer) producing the layer-tagged union
  2. split the (optionally stage-cut) union into per-layer views
  3. per-feature transforms (narrow withColumn stages)
  4. SetConditionalNames (broadcast id-joins) + configured
     post-processors in config order
  5. tile/cell assignment of centroids (pure Column math)

The per-tile zoom is a compile-time parameter (the reference processes
one tile bound/zoom per call; we process the whole table for a target
zoom in one distributed pass — ProcessElement fixture semantics use
zoom=20, ref:process.go:28-69).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmzen_spark.compiler.loader import CompiledConfig, load_config
from osmzen_spark.geom.derive import with_geometry_stats
from osmzen_spark.pipeline.postprocess import POSTPROCESSORS, set_conditional_names
from osmzen_spark.pipeline.transforms import apply_transforms
from osmzen_spark.stagecut import free_local_checkpoint, local_cut
from osmzen_spark.tiling.cells import with_tile


class NormalizeEngine:
    def __init__(self, config: CompiledConfig | None = None):
        self.config = config or load_config()
        self._ckpt_dir: str | None = None
        self._ckpt_dir_owned = False
        self._ckpt_seq = 0
        # checkpoint handles, not the coalesced views consumers read:
        # release() unpersists through the handle's own plan
        self._local_ckpts: list[DataFrame] = []

    def release(self) -> None:
        """Free every stage-checkpoint this engine materialized.

        local mode: unpersist the checkpointed RDD blocks (they pin
        executor memory for the engine's lifetime otherwise — a warm
        re-run needs them, a finished batch does not). parquet mode:
        delete engine-created temp checkpoint dirs (an explicit
        OSMZEN_CHECKPOINT_DIR is the caller's to manage). Idempotent."""
        for handle in self._local_ckpts:
            free_local_checkpoint(handle)
        self._local_ckpts.clear()
        if self._ckpt_dir_owned and self._ckpt_dir is not None:
            import shutil

            shutil.rmtree(self._ckpt_dir, ignore_errors=True)
            self._ckpt_dir = None
            self._ckpt_dir_owned = False
            self._ckpt_seq = 0

    def derive(
        self,
        elements: DataFrame,
        relation_members: DataFrame | None = None,
        way_nodes: DataFrame | None = None,
    ) -> DataFrame:
        """Geometry-derived columns (area/length/clon/clat), plus
        membership-join columns when the membership tables are supplied
        (pipeline.membership), as a frame of its own. ``process`` does
        not call this: it fuses the same derive into the eval pass."""
        out = with_geometry_stats(elements)
        if relation_members is not None or way_nodes is not None:
            from osmzen_spark.pipeline.membership import with_membership_columns

            out = with_membership_columns(out, relation_members, way_nodes)
        return out

    def _stage_cut(
        self,
        df: DataFrame,
        name: str,
        eager: bool,
        default_mode: str = "local",
        partition_by: str | None = None,
    ) -> DataFrame:
        """Materialize a stage boundary and truncate the plan.

        Three modes (env OSMZEN_STAGE_CHECKPOINT):

        * ``local``: an in-memory localCheckpoint (blocks spill to
          disk), owned by this engine and freed by ``release``. An
          eager cut goes through ``local_cut``: the job that
          materializes it also counts its rows, and the view
          downstream reads is coalesced to one partition per Arrow
          batch, so a small frame feeds its Python stages one task,
          not one per upstream partition (each Python task pays a
          fixed ~0.15 s of worker setup, see ``stagecut``). A lazy cut
          (``eager=False``) keeps its partitions: sizing needs the
          count. Lowest latency for small frames, but at
          full-pipeline scale every cached stage competes for the
          single local-mode heap, and GC pressure makes byte-heavy
          downstream phases ANTI-scale with core count (measured:
          post-process execute 174 s at local[32] vs 55 s at
          local[8], sf0.1 x4; and at plain sf0.1 the 9-layer flagship
          ran 94.7 s with local vs 35.1 s with parquet, interleaved
          same-session trials — the 1M heap-held wide rows put the
          JVM into GC collapse during the 13-scan post-process
          phase).
        With no env override, ``process`` picks the default per run:
        ``parquet`` for full-config (>=5 layer) runs, ``local`` for
        small layer slices — the checkpointed union's heap bytes scale
        with layer count, and the measured crossover sits between the
        2-layer ops queries (local ~1s faster: no write+read round
        trip) and the 9-layer flagship (parquet 2.7x faster: heap
        relief).

        * ``parquet``: write+read a compressed columnar checkpoint
          under OSMZEN_CHECKPOINT_DIR (or a temp dir) — data leaves the
          JVM heap (OS page cache holds snappy parquet at ~5-10x
          compression), scans come back vectorized. This IS the
          cluster design (the Iceberg stage checkpoint, lineage.py),
          so the bench runs it.
        * ``lineage``: parquet checkpoint THROUGH lineage.run_stage —
          each stage directory additionally gets per-bucket lineage
          rows (row count, order-independent xor checksum, cell range)
          and an atomic manifest, and a re-run with the same
          OSMZEN_CHECKPOINT_DIR validates each stage and RESUMES from
          it without recompute (the north rule's kill-resume
          semantics; on a real cluster the sink is an Iceberg table
          and the manifest is its snapshot commit). Costs one extra
          map-side-combinable aggregation per stage.
        """
        import os
        import tempfile

        mode = os.environ.get("OSMZEN_STAGE_CHECKPOINT", default_mode)
        # void (all-NULL) emit columns: parquet cannot store NullType;
        # cast to string in every mode so downstream semantics are
        # identical (a string NULL behaves exactly like an invisible
        # void column in PropertiesContext: absent -> ''/False)
        void_cols = [f.name for f in df.schema.fields if f.dataType.typeName() == "void"]
        if void_cols:
            df = df.withColumns({c: F.col(c).cast("string") for c in void_cols})
        if mode in ("parquet", "lineage"):
            # always eager by construction: the write IS the
            # materialization (eager=False has no lazy analog here)
            if self._ckpt_dir is None:
                explicit = os.environ.get("OSMZEN_CHECKPOINT_DIR")
                if explicit:
                    self._ckpt_dir = explicit
                else:
                    import atexit
                    import shutil

                    self._ckpt_dir = tempfile.mkdtemp(prefix="osmzen_ckpt_")
                    self._ckpt_dir_owned = True
                    atexit.register(shutil.rmtree, self._ckpt_dir, ignore_errors=True)
            self._ckpt_seq += 1
            path = f"{self._ckpt_dir}/{self._ckpt_seq:03d}_{name}"
            if mode == "lineage":
                from osmzen_spark.lineage import run_stage

                # deterministic 64-way bucket over the element id: the
                # lineage key a resume validates against. Stage paths
                # are (seq, name)-deterministic, so a re-run with the
                # same OSMZEN_CHECKPOINT_DIR lands on the same
                # directories and reloads every validated stage.
                key = "element_id" if "element_id" in df.columns else df.columns[0]
                bucketed = df.withColumn(
                    "__bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(64))
                )
                out = run_stage(
                    df.sparkSession,
                    path,
                    stage=name,
                    bucket_col="__bucket",
                    compute=lambda: bucketed,
                    cell_col="cell" if "cell" in df.columns else None,
                    # deep: resume re-derives per-bucket checksums and
                    # cell ranges (catches corruption that preserves
                    # row counts — object stores have no CRC sidecar)
                    deep=os.environ.get("OSMZEN_CHECKPOINT_DEEP", "") == "1",
                )
                return out.drop("__bucket")
            writer = df.write.mode("overwrite")
            if partition_by is not None and partition_by in df.columns:
                # partition the checkpoint on the downstream branch key:
                # every consumer filters `partition_by = <value>` (the
                # per-layer views + postprocess join sides — 13 scans
                # for the full config), so directory partition pruning
                # turns 13 full-table reads into 13 single-partition
                # reads. This is exactly the Iceberg partition-pruned
                # stage table of the cluster design (guide §6).
                writer = writer.partitionBy(partition_by)
            writer.parquet(path)
            return df.sparkSession.read.parquet(path)
        if eager:
            return self.local_cut(df)
        out = df.localCheckpoint(eager=False)
        self._local_ckpts.append(out)
        return out

    def local_cut(self, df: DataFrame) -> DataFrame:
        """Eager local stage cut sized by rows (``stagecut.local_cut``),
        owned by this engine: ``release`` frees it. Returns the view
        consumers read."""
        view, handle, _rows = local_cut(df)
        self._local_ckpts.append(handle)
        return view

    @staticmethod
    def _point_in_bound(bound, lon_col: str = "clon", lat_col: str = "clat"):
        minx, miny, maxx, maxy = bound
        return (
            (F.col(lon_col) >= minx)
            & (F.col(lon_col) <= maxx)
            & (F.col(lat_col) >= miny)
            & (F.col(lat_col) <= maxy)
        )

    def postprocess(
        self, layers: dict[str, DataFrame], zoom: int, bound=None
    ) -> dict[str, DataFrame]:
        """Stage 4: cross-feature/cross-layer post-processors."""
        layers = set_conditional_names(layers, zoom)
        clip_factors = {name: l.clip_factor for name, l in self.config.layers.items()}
        for step in self.config.postprocess:
            fn = POSTPROCESSORS.get(step.fn)
            if fn is None:
                raise ValueError(f"unknown post-processor: {step.fn}")
            params = dict(step.params)
            if bound is not None:
                params.setdefault("bound", bound)
            if step.fn == "handle_label_placement":
                params.setdefault("clip_factors", clip_factors)
            layers = fn(layers, zoom, params)
        return layers

    def process(
        self,
        elements: DataFrame,
        zoom: int = 20,
        tile_zoom: int | None = None,
        layer_names: list[str] | None = None,
        cache: bool = False,
        bound: tuple[float, float, float, float] | None = None,
        relation_members: DataFrame | None = None,
        way_nodes: DataFrame | None = None,
        clip: bool = True,
    ) -> dict[str, DataFrame]:
        """Full pipeline; returns {layer_name: DataFrame} with tile
        columns (tile_z/tile_x/tile_y/cell) appended.

        Every selected layer is evaluated in ONE mapInArrow pass
        (compiler.arrow_multilayer: shared tag matrix, one Arrow
        exchange, one job) that produces the layer-tagged union; a
        one-layer call is the same pass with one name. With
        ``cache=True`` that union is the single stage cut, and the
        per-layer frames are filter + projection views over it.
        Runs with and without a ``bound`` share this shape: the
        geometry derive is always fused into the eval pass, and a
        bound drops out-of-bound Points from the union (by the derived
        clon/clat) before the cut.

        (Stage-checkpoint mode note: full-config runs default to
        ``parquet`` checkpoints — see ``_stage_cut``; measured 2.7x
        faster end-to-end than ``local`` for the 9-layer pipeline at
        sf0.1 because the heap-held wide union rows put the single
        local-mode JVM into GC collapse during the 13-scan
        post-process phase.)
        """
        from osmzen_spark.compiler.arrow_multilayer import (
            evaluate_all_layers_arrow,
            split_layer_views,
        )

        names = layer_names or list(self.config.layers)
        tz = tile_zoom if tile_zoom is not None else min(zoom, 16)
        # Fused-derive shape: geometry stats are computed INSIDE the
        # eval mapInArrow pass (derive_geometry=True) so the wide
        # elements table crosses the Python boundary ONCE, not twice.
        # The membership joins only key on element_type/element_id, so
        # they run on the raw elements unchanged.
        ckpt_mode = "parquet" if len(names) >= 5 else "local"
        derived = elements
        if relation_members is not None or way_nodes is not None:
            from osmzen_spark.pipeline.membership import with_membership_columns

            derived = with_membership_columns(elements, relation_members, way_nodes)
            if not cache:
                # cut the plan at the membership join: without this the
                # join+aggregation subtree is duplicated into every
                # layer view (and every postprocess self-join on top),
                # and Catalyst analysis cost multiplies accordingly. On
                # a cluster this cut is the Iceberg stage checkpoint
                # (lineage.py). When the eval union is itself cut
                # (cache=True), `derived` has exactly one consumer —
                # the eval pass feeding that cut — so this
                # intermediate checkpoint would be a pure extra
                # write+read of the full elements table and is skipped.
                derived = self._stage_cut(
                    derived, "derived", eager=False, default_mode=ckpt_mode
                )
        use = {n: self.config.layers[n] for n in names}
        union = evaluate_all_layers_arrow(derived, use, zoom, names, derive_geometry=True)
        if bound is not None:
            # bounded (per-tile) runs: Points outside the bound go. The
            # filter reads the clon/clat the eval pass derived; every
            # row is evaluated on its own, so filtering the union keeps
            # exactly the rows that filtering the input would
            union = union.filter((F.col("geom_type") != "Point") | self._point_in_bound(bound))
        if cache:
            union = self._stage_cut(
                union, "eval_union", eager=True, default_mode=ckpt_mode, partition_by="zen_layer"
            )
        input_cols = derived.columns + ["area", "length", "clon", "clat"]
        views = split_layer_views(union, use, input_cols)
        layers = {}
        for n in names:
            df = apply_transforms(views[n], self.config.layers[n].transforms, zoom)
            if bound is not None:
                # Point outputs (e.g. representative points of big
                # polygons) outside the bound are dropped after eval
                # (ref:process.go:146-167)
                df = df.filter((F.col("geom_type") != "Point") | self._point_in_bound(bound))
            layers[n] = df
        layers = self.postprocess(layers, zoom, bound=bound)
        if bound is not None and clip:
            # hard-wired final step for per-tile runs: clip geometry to
            # the (padded) bound and delete the raw-tags stash
            # (ref:process.go:115-122)
            from osmzen_spark.geom.clip import clip_and_wrap

            clip_factors = {n: l.clip_factor for n, l in self.config.layers.items()}
            layers = clip_and_wrap(layers, bound, clip_factors)
            layers = {n: df.drop("tags") for n, df in layers.items()}
        return {name: with_tile(df, tz) for name, df in layers.items()}

    def process_unioned(self, elements: DataFrame, zoom: int = 20, **kw) -> DataFrame:
        """Union all layers into one DataFrame (zen_layer column marks
        the layer) for sink-style consumption."""
        layers = self.process(elements, zoom, **kw)
        dfs = list(layers.values())
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        return out

    # preferred layer order for single-element classification
    # (ref:process.go:28-39)
    PREFERENCE_ORDER = (
        "pois",
        "roads",
        "buildings",
        "landuse",
        "water",
        "places",
        "boundaries",
        "transit",
        "earth",
    )

    def process_element(self, elements: DataFrame, zoom: int = 20, **kw) -> DataFrame:
        """Batch ProcessElement (ref:process.go:42-69): full pipeline at
        world bound, then for each element keep only its FIRST matching
        layer by the preference order, and within that layer the
        original feature (not an appended label point) — exactly the
        reference's fixture semantics (Features[0] of the first
        non-empty layer). Layers outside the preference list rank after
        it in config order, mirroring the reference's fallback loop."""
        from pyspark.sql import Window

        out = self.process_unioned(elements, zoom=zoom, **kw)
        rank = None
        order = list(self.PREFERENCE_ORDER) + [
            n for n in self.config.layers if n not in self.PREFERENCE_ORDER
        ]
        for i, name in enumerate(order):
            cond = F.col("zen_layer") == name
            rank = F.when(cond, F.lit(i)) if rank is None else rank.when(cond, F.lit(i))
        rank = rank.otherwise(F.lit(len(order)))
        label_last = (
            F.col("label_placement").isNotNull().cast("int")
            if "label_placement" in out.columns
            else F.lit(0)
        )
        # deterministic within-layer tiebreak (the reference returns
        # Features[0] of the first non-empty layer): earliest matching
        # rule, then lowest min_zoom
        tiebreak = [
            F.col(c).asc_nulls_last()
            for c in ("match_idx", "min_zoom")
            if c in out.columns
        ]
        w = Window.partitionBy("id", "type").orderBy(rank.asc(), label_last.asc(), *tiebreak)
        return (
            out.withColumn("__pref", F.row_number().over(w))
            .filter(F.col("__pref") == 1)
            .drop("__pref")
        )
