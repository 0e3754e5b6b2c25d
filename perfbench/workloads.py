"""The benchmark's workloads: inputs, one timed rep, its output check, the
plan guard, and the traced layer-by-layer run.

Each workload is a closed loop: one driver process, one Spark job at a time.
Every timed rep builds a fresh plan and materialises its whole output
through the ``noop`` sink (never ``count()``), with the check's counters
attached by ``observe()`` so checking adds no Spark job.
"""

from __future__ import annotations

import functools
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from osm_merge_spark.data import synth
from osm_merge_spark.functions import fuzzy, s2
from osm_merge_spark.functions.cells import TileGrid
from osm_merge_spark.functions.geo import point_in_fixed_ring
from osm_merge_spark.operators import cell_join, knn
from osm_merge_spark.operators.conflate import ConflateParams, conflate
from osm_merge_spark.operators.tiles import assign_tiles
from osm_merge_spark.plans import pipeline
from osm_merge_spark.sources import tables

from . import gen, oracle

AOI_RING = list(zip(synth.AOI_RING_X, synth.AOI_RING_Y))
TILE_M = 5_000.0
S2_LEVEL = 13
FIXED_PAIRS = 20_000  # size of the cached pair set the fuzzy and knn layers run on
PIPELINE_STAGES = ("images_normalized", "layer_normalized", "matched", "new_features",
                   "tile_assignment")


class CheckFailed(Exception):
    """A rep's output disagreed with the expected output."""


def row_key() -> F.Column:
    """The generator's row index k (image_id is 'img-<i>', i = seed * stride + k)."""
    return F.substring("image_id", 5, 30).cast("long") % F.lit(gen.SEED_STRIDE)


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def materialize(df: DataFrame, persist: bool = False) -> tuple[DataFrame, int]:
    """Run df to the noop sink (filling its cache when persist) and return it
    with its row count, observed during that same job."""
    if persist:
        df = df.persist()
    obs = Observation()
    noop(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return df, int(obs.get["n"])


def plan_text(df: DataFrame) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@dataclass
class Workload:
    name: str
    why: str
    n_images: int
    sample_mod: int  # rows with k % sample_mod == seed % sample_mod are sampled
    warmup_reps: int  # untimed warm reps between the cold first rep and the timed window

    def prepare(self, spark, work_dir: str, seed: int) -> None:
        self.spark, self.dir, self.seed = spark, work_dir, seed
        self.sample_rem = seed % self.sample_mod
        self.sample = (F.col("__k") % self.sample_mod) == self.sample_rem

    def images(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.dir, "images"))


class ConflateHot(Workload):
    """``conflate(images, layer)`` with matched and new both sent to noop."""

    def prepare(self, spark, work_dir, seed):
        super().prepare(spark, work_dir, seed)
        self.img, self.lay = gen.write_inputs(work_dir, self.n_images, seed, True, n_files=8)
        k = self.img["i"] % gen.SEED_STRIDE
        self.k_sum, self.k2_sum = int(k.sum()), int((k * k).sum())
        sampled = (k % self.sample_mod) == self.sample_rem
        self.expected, self.ambiguous = oracle.conflate_expected(self.img, self.lay, sampled)

    def layer(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.dir, "layer"))

    def build(self):
        matched, new = conflate(self.images(), self.layer())
        om, on = Observation("matched"), Observation("new")
        sums = [F.count(F.lit(1)).alias("n"), F.sum("__k").alias("k"),
                F.sum(F.col("__k") * F.col("__k")).alias("k2")]
        matched = matched.withColumn("__k", row_key()).observe(
            om, *sums, F.collect_list(F.when(self.sample, F.struct(
                "image_id", "feature_id", "hits"))).alias("sample")).drop("__k")
        new = new.withColumn("__k", row_key()).observe(
            on, *sums, F.collect_list(F.when(self.sample, F.col("image_id"))).alias("sample")
        ).drop("__k")
        return [matched, new], lambda: self.check(om.get, on.get)

    def plan_guard(self, dfs) -> None:
        plan = plan_text(dfs[0])
        for node in ("ArrowEvalPython", "min_by"):
            if node not in plan:
                raise CheckFailed(f"timed conflate plan lacks {node}")

    def check(self, m: dict, n: dict) -> dict:
        if m["n"] + n["n"] != self.n_images:
            raise CheckFailed(f"funnel open: {m['n']} matched + {n['n']} new != {self.n_images}")
        if (m["k"] + n["k"], m["k2"] + n["k2"]) != (self.k_sum, self.k2_sum):
            raise CheckFailed("matched + new is not each input image exactly once")
        got = {r["image_id"]: (r["feature_id"], r["hits"]) for r in m["sample"]}
        got.update({i: None for i in n["sample"]})
        bad = [i for i, want in self.expected.items() if got.get(i, "missing") != want]
        if bad:
            raise CheckFailed(f"{len(bad)} sampled images disagree with brute force, e.g. "
                              f"{bad[0]}: {got.get(bad[0], 'missing')} != {self.expected[bad[0]]}")
        return {"matched": m["n"], "new": n["n"], "sample_checked": len(self.expected),
                "sample_ambiguous": self.ambiguous}

    def trace(self, tr, ev_spans: dict) -> tuple[dict, dict]:
        """Traced conflate: the layers conflate() calls are wrapped so each one's
        output is cached and materialised inside its own span; then the fuzzy
        and knn layers on a cached fixed-size pair set; then the checkpointed
        pipeline on the same inputs, with one resume. Returns the per-layer
        metrics and the root span; fills ev_spans with the span names whose
        Spark jobs the event-log metrics fold over."""
        out, counts = {}, {"cell_join": 0, "refined": 0}
        orig = {"pts": cell_join.candidate_pairs_points, "lines": cell_join.candidate_pairs,
                "top_k": knn.top_k_agg, "best": knn.best_candidate}
        captured = {}

        def traced_join(fn):
            def wrapper(*a, **kw):
                with tr.span("cell_join", fn=fn.__name__):
                    df, rows = materialize(fn(*a, **kw), persist=True)
                counts["cell_join"] += rows
                return df
            return wrapper

        def traced_top_k(pairs, *a, **kw):
            with tr.span("conflate.refine"):
                pairs, counts["refined"] = materialize(pairs, persist=True)
            captured["refined"] = pairs
            with tr.span("knn.top_k"):
                return materialize(orig["top_k"](pairs, *a, **kw), persist=True)[0]

        def traced_best(scored, *a, **kw):
            with tr.span("conflate.score"):
                scored = materialize(scored, persist=True)[0]
            with tr.span("knn.best"):
                return materialize(orig["best"](scored, *a, **kw), persist=True)[0]

        cell_join.candidate_pairs_points = traced_join(orig["pts"])
        cell_join.candidate_pairs = traced_join(orig["lines"])
        knn.top_k_agg, knn.best_candidate = traced_top_k, traced_best
        try:
            with tr.span("conflate") as root:
                with tr.span("sources.scan"):
                    img_c, n_img = materialize(self.images(), persist=True)
                    lay_c, n_lay = materialize(self.layer(), persist=True)
                matched, new = conflate(img_c, lay_c)
                with tr.span("conflate.emit"):
                    _, n_matched = materialize(matched)
                    _, n_new = materialize(new)
        finally:
            cell_join.candidate_pairs_points, cell_join.candidate_pairs = orig["pts"], orig["lines"]
            knn.top_k_agg, knn.best_candidate = orig["top_k"], orig["best"]
        if n_matched + n_new != self.n_images:
            raise CheckFailed("traced conflate funnel open")
        others = sum(c["dur_s"] for c in tr.children(root) if not c["name"].startswith("conflate."))

        # fuzzy and knn on a cached, fixed-size pair set
        pairs_fx, n_fx = materialize(captured["refined"].limit(FIXED_PAIRS).join(
            lay_c.select("feature_id", F.col("caption").alias("s_caption")), "feature_id"),
            persist=True)
        with tr.span("fuzzy.ratio_indel", pairs=n_fx) as fz:
            scored, _ = materialize(pairs_fx.withColumn(
                "ratio", fuzzy.ratio_indel(F.col("caption"), F.col("s_caption"))), persist=True)
        with tr.span("knn.top_k_agg", pairs=n_fx) as tk:
            _, n_top = materialize(orig["top_k"](pairs_fx, "image_id", "dist_m", "feature_id", 5,
                                                 const_cols=["lon", "lat", "caption"]))
        with tr.span("knn.best_candidate", pairs=n_fx) as bc:
            _, n_best = materialize(orig["best"](scored.select(
                "image_id", "feature_id", "dist_m",
                (F.col("ratio") > ConflateParams().fuzz_min).cast("int").alias("hits")), "image_id"))

        out.update({
            "sources.scan_s": tr.total("sources.scan"), "sources.scan_rows": n_img + n_lay,
            "cell_join.s": tr.total("cell_join"), "cell_join.pairs": counts["cell_join"],
            "cell_join.pairs_per_image": counts["cell_join"] / self.n_images,
            "cell_join.hit_ratio": counts["refined"] / max(counts["cell_join"], 1),
            "fuzzy.udf_s": fz["dur_s"], "fuzzy.pairs": n_fx,
            "fuzzy.pairs_per_s": n_fx / fz["dur_s"],
            "conflate.self_s": root["dur_s"] - others,
            "conflate.refined_pairs": counts["refined"],
            "conflate.matched": n_matched, "conflate.new": n_new,
            "knn.top_k_s": tk["dur_s"], "knn.best_s": bc["dur_s"],
            "knn.rows_in": n_fx, "knn.rows_out": n_top + n_best,
        })
        ev_spans.update({"cell_join": {"cell_join"}, "fuzzy": {"fuzzy.ratio_indel"},
                         "scan": {"sources.scan"}})
        self.spark.catalog.clearCache()
        out.update(self.trace_pipeline(tr))
        return out, root

    def trace_pipeline(self, tr) -> dict:
        base = os.path.join(self.dir, "pipeline")
        commits = []
        orig_commit = tables.commit_table

        def traced_commit(df, target, partition_by=None):
            with tr.span("sources.commit", target=os.path.basename(target)):
                orig_commit(df, target, partition_by)
            files = [os.path.join(d, f) for d, _, fs in os.walk(target) for f in fs
                     if f.endswith(".parquet")]
            commits.append((len(files), sum(os.path.getsize(f) for f in files)))

        tables.commit_table = traced_commit
        try:
            with tr.span("plans.pipeline"):
                ctx = pipeline.PipelineContext(self.spark, base)
                pipeline.conflation_pipeline(ctx, self.images(), self.layer(), tile_m=TILE_M)
        finally:
            tables.commit_table = orig_commit
        with tr.span("plans.resume") as resume:
            ctx2 = pipeline.PipelineContext(self.spark, base)
            pipeline.conflation_pipeline(ctx2, self.images(), self.layer(), tile_m=TILE_M)
        if ctx2.executed or sorted(ctx2.skipped) != sorted(PIPELINE_STAGES):
            raise CheckFailed(f"resume re-ran {ctx2.executed}")
        out, skews = {}, []
        for m in ctx.manifest():
            lineage = [r["rows_out"] for r in ctx.lineage(m["stage"])]
            reread = self.spark.read.parquet(ctx.stage_path(m["stage"])).count()
            if not m["rows_out"] == sum(lineage) == reread:
                raise CheckFailed(f"stage {m['stage']}: manifest {m['rows_out']}, lineage "
                                  f"{sum(lineage)}, re-read {reread}")
            out[f"plans.stage_s.{m['stage']}"] = m["t_end"] - m["t_start"]
            skews.append(max(lineage) / (sum(lineage) / len(lineage)) if sum(lineage) else 1.0)
        out.update({
            "plans.lineage_skew": max(skews), "plans.resume_s": resume["dur_s"],
            "sources.commit_s": tr.total("sources.commit"),
            "sources.commit_files": sum(c[0] for c in commits),
            "sources.commit_bytes": sum(c[1] for c in commits),
        })
        shutil.rmtree(base, ignore_errors=True)
        return out


class IndexTiles(Workload):
    """S2 level-13 id (Arrow encoder) + 5 km tile + AOI clip for every image."""

    def prepare(self, spark, work_dir, seed):
        super().prepare(spark, work_dir, seed)
        gen.write_inputs(work_dir, self.n_images, seed, False, n_files=8)
        self.n_in, self.k_sum, self.expected = oracle.index_expected(
            os.path.join(work_dir, "images"), AOI_RING, TileGrid(TILE_M), S2_LEVEL,
            self.sample_mod, self.sample_rem)

    def indexed(self, images: DataFrame) -> DataFrame:
        lon, lat = F.col("lon"), F.col("lat")
        cells = images.withColumn("s2_cell", s2.s2_cell_udf(S2_LEVEL)(lon, lat))
        return assign_tiles(cells, TileGrid(TILE_M)).filter(point_in_fixed_ring(lon, lat, AOI_RING))

    def build(self):
        obs = Observation("indexed")
        out = self.indexed(self.images()).withColumn("__k", row_key()).observe(
            obs, F.count(F.lit(1)).alias("n"), F.sum("__k").alias("k"),
            F.collect_list(F.when(self.sample, F.struct("image_id", "s2_cell", "tile_id")))
            .alias("sample")).drop("__k")
        return [out], lambda: self.check(obs.get)

    def plan_guard(self, dfs) -> None:
        if "ArrowEvalPython" not in plan_text(dfs[0]):
            raise CheckFailed("timed index plan lacks the Arrow S2 encoder")

    def check(self, o: dict) -> dict:
        if (o["n"], o["k"]) != (self.n_in, self.k_sum):
            raise CheckFailed(f"{o['n']} rows inside the AOI, DuckDB has {self.n_in}")
        got = {r["image_id"]: (r["s2_cell"], r["tile_id"]) for r in o["sample"]}
        if got != self.expected:
            bad = sorted(set(got.items()) ^ set(self.expected.items()))
            raise CheckFailed(f"{len(bad)} sampled rows differ from DuckDB, e.g. {bad[0]}")
        return {"rows_out": o["n"], "sample_checked": len(got)}

    def trace(self, tr, ev_spans: dict) -> tuple[dict, dict]:
        """Traced index: the scan cached inside its own span, then the S2
        encoder and the tile + AOI layers each on the cached scan."""
        lon, lat = F.col("lon"), F.col("lat")
        with tr.span("index_tiles") as root:
            with tr.span("sources.scan"):
                img_c, n_img = materialize(self.images(), persist=True)
            with tr.span("functions.s2") as sp:
                materialize(img_c.withColumn("s2_cell", s2.s2_cell_udf(S2_LEVEL)(lon, lat)))
            with tr.span("tiles.assign_aoi") as tl:
                obs = Observation("tiles")
                noop(assign_tiles(img_c, TileGrid(TILE_M))
                     .filter(point_in_fixed_ring(lon, lat, AOI_RING))
                     .observe(obs, F.count(F.lit(1)).alias("n"),
                              F.collect_set("tile_id").alias("tiles")))
        if obs.get["n"] != self.n_in:
            raise CheckFailed("traced index row count differs from DuckDB")
        ev_spans.update({"scan": {"sources.scan"}})
        self.spark.catalog.clearCache()
        return {
            "sources.scan_s": tr.total("sources.scan"), "sources.scan_rows": n_img,
            "functions.s2_cell_s": sp["dur_s"], "functions.s2_rows_per_s": n_img / sp["dur_s"],
            "tiles.assign_aoi_s": tl["dur_s"], "tiles.n_tiles": len(obs.get["tiles"]),
        }, root


# name -> constructor; each run builds its own workload object
WORKLOADS = {
    "conflate_hot": functools.partial(
        ConflateHot, "conflate_hot",
        "conflation hot path on the planted layer with a 20% hot cluster: cell join, refine, "
        "Arrow fuzzy UDF and top-5/best aggregates do the work, nothing is written",
        # no warm-up reps: the first warm rep is mostly the slowest, and the
        # median of the four timed reps leaves the slowest out
        n_images=30_000, sample_mod=29, warmup_reps=0),
    "index_tiles": functools.partial(
        IndexTiles, "index_tiles",
        "encode every record at scale: S2 level-13 Arrow encoder, 5 km tile id and AOI clip; "
        "all scan plus cell kernels, no shuffle join and no fuzzy UDF",
        # its warm reps keep getting faster for eight to twelve reps
        n_images=500_000, sample_mod=499, warmup_reps=12),
}


def timed_rep(workload: Workload, guard: bool = False) -> tuple[float, dict]:
    """One fresh-plan rep, timed from the call that builds the plan to the
    last output row: returns (wall seconds, check summary); raises on a
    failed check or plan guard (checked after timing, on the plan that ran)."""
    t0 = time.perf_counter()
    dfs, check = workload.build()
    for df in dfs:
        noop(df)
    wall = time.perf_counter() - t0
    if guard:
        workload.plan_guard(dfs)
    return wall, check()
