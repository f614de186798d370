"""The three workloads. Each builds its stored inputs in ``setup`` and
returns the closed-loop job list; every job ends its outputs in the
digest sink and has a verification against the DuckDB twins of
``geozero_spark/oracles.py`` or a bit-identical cross-path twin.

Query parameters are the catalog's (``geozero_spark/queries.py``) so
the catalog's oracles apply unchanged to the generated tables.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

from harness import Job, Mismatch, same

# input sizes (rows of the generated tables), stated in BENCHMARK.json
SIZES = {
    "geo_tiles": {"docs": 20_000, "vecs": 500},
    "neighbors": {"docs": 2_500, "vecs": 400},
    "stage_io": {"docs": 8_000, "vecs": 500},
}
# features converted per convert job: the first CONVERT_CAP documents by
# doc_id, as in the catalog's fgb_decode fixture (which takes 10,000)
CONVERT_CAP = 1_000
N_FILES = 8  # files per stored input table
PREFIX_RES = 2  # directory level of the cell-partitioned layout


@dataclass
class Workload:
    jobs: list
    input_rows: int
    # end-to-end latency metric -> job names whose medians it sums
    latencies: dict
    counts: dict = field(default_factory=dict)


def _plan_has(df, node: str) -> bool:
    return node in df._jdf.queryExecution().analyzed().toString()


# --------------------------------------------------------------------------
# geo_tiles: pages -> decode -> pip_join -> cell/tile counts -> MVT
# --------------------------------------------------------------------------

def geo_tiles(spark, in_dir: str, work: str, oracle) -> Workload:
    from pyspark.sql import functions as F

    from geozero_spark import oracles as O
    from geozero_spark import queries as Q
    from geozero_spark.functions import cols as C
    from geozero_spark.functions import sqlgen as sg
    from geozero_spark.functions import udfs
    from geozero_spark.operators import pip_join, tiling
    from geozero_spark.sources import pages as P

    # the stored crawl table, written by the DuckDB dialect of the
    # program's own pages synthesis (sources/pages.py)
    path = oracle.write(P.pages_sql(sg.DUCKDB), os.path.join(work, "pages"),
                        N_FILES, "hash(url)")
    n_pages = spark.read.parquet(path).count()

    def pages():
        # every job re-opens the stored table: no work shared between jobs
        return spark.read.parquet(path)

    def points(ctx, cols):
        return ctx.call("points_from_pages",
                        lambda: Q.points_from_pages(pages()).select(*cols))

    def run_decode(ctx):
        ctx.sink("points", points(
            ctx, ["url", "doc_id", "xc", "yc", "lon", "lat"]))
        ctx.sink("geos", ctx.call(
            "geos_from_pages",
            lambda: Q.geos_from_pages(pages()).select("url", "geom")))

    def verify_decode(ctx, fr, oracle):
        oracle.check("decode.points", fr["points"], O._W + (
            f"SELECT url, doc_id, xc, yc, {O._LON} AS lon, "
            f"{O._LAT} AS lat FROM pts"))
        g = F.col("geom")
        oracle.check("decode.geos", fr["geos"].select(
            "url", C.bbox_xmin(g).alias("xmin"),
            C.bbox_ymin(g).alias("ymin"), C.bbox_xmax(g).alias("xmax"),
            C.bbox_ymax(g).alias("ymax"),
            (F.size(g["coords"]) / 2).cast("int").alias("ncoords")),
            O._W + "SELECT url, bx0 * 0.01e0 AS xmin, by0 * 0.01e0 AS ymin, "
                   "bx1 * 0.01e0 AS xmax, by1 * 0.01e0 AS ymax, ncoords "
                   "FROM geo")

    out_cols = ["url", "doc_id", "lon", "lat", "zone_id"]

    def run_pip(ctx):
        pts = points(ctx, ["url", "doc_id", "lon", "lat"])
        polys = ctx.call("zones_decoded", lambda: Q.zones_decoded(
            spark, in_dir).select("zone_id", "poly"))
        hit = pip_join._PREPARED.get(polys) is not None
        ctx.counts["pip_prep_cache_hit"] = int(hit)
        ctx.sink("pip", ctx.call("pip_join", lambda: pip_join.pip_join(
            pts, polys, res=Q.PIP_RES).select(*out_cols)))

    def verify_pip(ctx, fr, oracle):
        oracle.check("pip_join", fr["pip"].select("url", "zone_id"),
                     O.ORACLES["pip_join"])

    def run_tiles(ctx):
        pts = points(ctx, ["url", "lang", "lon", "lat"])
        ctx.sink("cells", ctx.call("with_cell_col", lambda: C.with_cell_col(
            pts, "lon", "lat", Q.CELL_RES_COARSE, out="cell"))
            .groupBy("cell").agg(F.count("*").alias("n_pages"),
                                 F.countDistinct("lang").alias("n_langs")))
        ctx.sink("tiles", ctx.call("with_tile_eq", lambda: tiling.with_tile_eq(
            pts, "lon", "lat", Q.TILE_Z))
            .groupBy("z", "x", "y").agg(F.count("*").alias("n")))

    def verify_tiles(ctx, fr, oracle):
        oracle.check("cell_counts", fr["cells"], O.ORACLES["cell_counts"])
        oracle.check("tile_counts", fr["tiles"], O._W + (
            f"SELECT {Q.TILE_Z} AS z, {O._EX} AS x, {O._EY} AS y, "
            f"CAST(COUNT(*) AS BIGINT) AS n FROM pts GROUP BY 2, 3"))

    def run_mvt(ctx):
        g = ctx.call("geos_from_pages", lambda: (
            Q.geos_from_pages(pages())
            .withColumn("tlen", F.length("text").cast("long"))
            .withColumn("score", (F.length("text") * 0.5).cast("double"))
            .select("url", "geom", "tlen", "score", "lang")))
        ctx.sink("mvt", ctx.call("mvt_tiles", lambda: tiling.mvt_tiles(
            g, Q.COVER_Z, key="url", props=["tlen", "score", "lang"])
            .select("z", "x", "y", "n_features", "n_skipped", "mvt")))

    def verify_mvt(ctx, fr, oracle):
        s = udfs.mvt_tile_stats(int_prop="tlen", float_prop="score",
                                str_prop="lang")
        oracle.check("mvt_content", fr["mvt"].withColumn("s", s("mvt"))
                     .select("z", "x", "y",
                             *[F.col(f"s.{c}").alias(c) for c in (
                                 "n_features", "vtx_sum", "sx_sum",
                                 "sy_sum", "prop_int_sum",
                                 "prop_float_sum", "prop_chars")]),
                     O.ORACLES["mvt_content"])
        agg = fr["mvt"].agg(F.count("*"), F.sum("n_features")).first()
        ctx.counts["mvt_tiles"], ctx.counts["mvt_features"] = agg[0], agg[1]

    return Workload([
        Job("decode", run_decode, verify_decode),
        Job("pip_join", run_pip, verify_pip),
        Job("tile_counts", run_tiles, verify_tiles),
        Job("mvt", run_mvt, verify_mvt),
    ], n_pages, {"decode_s": ["decode"], "pip_join_s": ["pip_join"],
                 "tile_counts_s": ["tile_counts"], "mvt_s": ["mvt"]})


# --------------------------------------------------------------------------
# neighbors: one cached decode, then kNN, cosine/ANN and near-dup jobs
# --------------------------------------------------------------------------

# the catalog's dedup oracles run over documents plus id-offset mutants;
# the generated documents plant their own near-dup groups instead
_MUTANTS = ("\n  UNION ALL\n  SELECT doc_id + 10000, replace(text, 'the ', '')"
            " FROM documents")


def _no_mutants(sql: str) -> str:
    if sql.count(_MUTANTS) != 1:
        raise Mismatch("dedup oracle no longer has the expected docs CTE")
    return sql.replace(_MUTANTS, "")


def _components(ids: list, pairs: list) -> list:
    """(doc_id, cluster_id, keep) rows: cluster_id is the smallest id of
    the connected component."""
    parent = {i: i for i in ids}

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(i, root(i), root(i) == i) for i in ids]


def neighbors(spark, in_dir: str, work: str, oracle) -> Workload:
    from pyspark.sql import functions as F

    from geozero_spark import oracles as O
    from geozero_spark import queries as Q
    from geozero_spark.operators import dedup, knn, similarity
    from geozero_spark.sources import pages as P

    pts = (Q.points_from_pages(P.pages_df(spark, in_dir))
           .select("doc_id", "xc", "yc").persist())
    n_pts = pts.count()
    emb = spark.read.parquet(f"{in_dir}/embeddings.parquet") \
        .select("vec_id", "embedding").persist()
    n_vecs = emb.count()
    docs = spark.read.parquet(f"{in_dir}/documents.parquet") \
        .select("doc_id", "text").persist()
    n_docs = docs.count()

    queries = (pts.where(F.col("doc_id") % Q.QUERY_MOD == 0)
               .select(F.col("doc_id").alias("q_id"),
                       F.col("xc").alias("qx"), F.col("yc").alias("qy")))
    targets = pts.select(F.col("doc_id").alias("t_id"),
                         F.col("xc").alias("tx"), F.col("yc").alias("ty"))
    qv = (emb.where(F.col("vec_id") % Q.QUERY_MOD == 0)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("qvec")))
    tv = emb.select(F.col("vec_id").alias("t_id"),
                    F.col("embedding").alias("tvec"))

    def run_knn(ctx):
        for method in ("auto", "grid"):
            out = ctx.call(f"knn_join_{method}", lambda: knn.knn_join(
                queries, targets, k=Q.KNN_K, res=Q.KNN_RES, method=method))
            ctx.counts[f"knn_{method}_grid"] = int(
                _plan_has(out, "FlatMapCoGroupsInPandas"))
            ctx.sink(f"knn_{method}", out.select(
                "q_id", "t_id", "dist2", "rank"))

    def verify_knn(ctx, fr, oracle):
        same("knn auto vs grid path", ctx.digests["knn_auto"],
             ctx.digests["knn_grid"])
        oracle.check("knn", fr["knn_grid"], O.ORACLES["knn"])
        ctx.counts["knn_queries"] = queries.count()

    def run_ann(ctx):
        ctx.sink("cosine_topk", ctx.call(
            "cosine_topk", lambda: similarity.cosine_topk(qv, tv, Q.ANN_K))
            .select("q_id", "t_id", "cosine", "rank"))
        ctx.sink("ann_topk", ctx.call("ann_topk", lambda: similarity.ann_topk(
            qv, tv, Q.ANN_K, dim=Q.EMB_DIM, bits=Q.LSH_BITS,
            bands=Q.LSH_BANDS, portable=True,
            max_bucket=Q.LSH_MAX_BUCKET))
            .select("q_id", "t_id", "cosine", "rank"))

    def verify_ann(ctx, fr, oracle):
        oracle.check("cosine_topk", fr["cosine_topk"],
                     O.ORACLES["ann_cosine"])
        oracle.check("ann_topk", fr["ann_topk"], O.ORACLES["ann_lsh"])
        ctx.counts["ann_candidates"] = oracle.con.sql(
            f"WITH {O._ann_lsh_ctes()} SELECT count(*) FROM lcand"
        ).fetchone()[0]
        ctx.counts["ann_queries"] = qv.count()

    def run_near_dup(ctx):
        # the verified pair set is cached before the connected-components
        # rounds, each of which would otherwise recompute it
        pairs = ctx.call("near_dup_pipeline", lambda: dedup.near_dup_pipeline(
            docs, num_perm=Q.NUM_PERM, bands=Q.BANDS,
            threshold=Q.JACCARD_T, fast=False)).persist()
        try:
            ctx.sink("near_dup", pairs.select(
                "doc_id_a", "doc_id_b", "jaccard"))
            ctx.sink("dup_clusters", ctx.call(
                "dup_clusters", lambda: dedup.dup_clusters(docs, pairs))
                .select("doc_id", "cluster_id", "keep"))
        finally:
            pairs.unpersist()

    def verify_near_dup(ctx, fr, oracle):
        pairs = oracle.check("near_dup", fr["near_dup"],
                             _no_mutants(O.ORACLES["near_dup"]))
        # the recursive-CTE dup_clusters oracle re-derives the pair set
        # per closure step; a union-find over the oracle's verified
        # pairs computes the same (min doc_id per component) labels
        ids = [r[0] for r in oracle.con.sql(
            "SELECT doc_id FROM documents").fetchall()]
        oracle.compare("dup_clusters", fr["dup_clusters"],
                       ["doc_id", "cluster_id", "keep"],
                       _components(ids, [(a, b) for a, b, _ in pairs]))
        ctx.counts["lsh_candidates"] = dedup.minhash_lsh_pairs(
            docs, num_perm=Q.NUM_PERM, bands=Q.BANDS, fast=False).count()

    return Workload([
        Job("knn", run_knn, verify_knn),
        Job("ann", run_ann, verify_ann),
        Job("near_dup", run_near_dup, verify_near_dup),
    ], n_docs + n_vecs, {"knn_s": ["knn"], "ann_s": ["ann"],
                         "near_dup_s": ["near_dup"]},
        {"points": n_pts})


# --------------------------------------------------------------------------
# stage_io: resumable stage write, cell-partitioned layout + bbox reads,
# format conversion with read-back
# --------------------------------------------------------------------------

def stage_io(spark, in_dir: str, work: str, oracle) -> Workload:
    from pyspark.sql import functions as F

    from geozero_spark import convert as CV
    from geozero_spark import oracles as O
    from geozero_spark import queries as Q
    from geozero_spark.functions import cols as C
    from geozero_spark.operators import bbox_select as B
    from geozero_spark.plans import meta
    from geozero_spark.sources import readers

    # the stored point table, from the oracles' documents arithmetic: no
    # decode runs in this workload
    src_path = oracle.write(
        O._W + f"SELECT url, doc_id, xc, yc, {O._LON} AS lon, "
               f"{O._LAT} AS lat FROM pts",
        os.path.join(work, "points"), N_FILES, "doc_id")
    conv_src = os.path.join(work, "convert_src.parquet")
    (spark.read.parquet(src_path).orderBy("doc_id").limit(CONVERT_CAP)
     .select(C.point_struct_from_xy(F.col("xc"), F.col("yc")).alias("geom"),
             F.create_map(F.lit("doc_id"), F.col("doc_id").cast("string"))
             .alias("props"))
     .coalesce(1).write.parquet(conv_src))
    n_src = spark.read.parquet(src_path).count()

    stage_base = os.path.join(work, "stage")
    part_path = os.path.join(work, "cells")
    conv_dir = os.path.join(work, "converted")
    bbox = Q.BBOX

    def src():
        return spark.read.parquet(src_path)

    def reset_stage():
        shutil.rmtree(stage_base, ignore_errors=True)
        shutil.rmtree(part_path, ignore_errors=True)

    def run_stage_write(ctx):
        cells = ctx.call("with_cell_col", lambda: C.with_cell_col(
            src(), "lon", "lat", Q.CELL_RES, out="cell"))
        recs = ctx.call("run_stage", lambda: meta.run_stage(
            spark, cells, stage_base, "pts", bucket_col="cell",
            n_buckets=16, fingerprint="perfbench"))
        again = ctx.call("run_stage_resume", lambda: meta.run_stage(
            spark, cells, stage_base, "pts", bucket_col="cell",
            n_buckets=16, fingerprint="perfbench"))
        ctx.digests["stage_records"] = (
            len(again), tuple(sorted((b, r) for b, r, _ in recs)))
        ctx.call("write_cell_partitioned", lambda: B.write_cell_partitioned(
            src(), part_path, res=Q.CELL_RES, prefix_res=PREFIX_RES))
        ctx.counts["stage_files"] = sum(
            f.endswith(".parquet") for _, _, fs in
            os.walk(os.path.join(stage_base, "pts")) for f in fs)

    cols6 = ["url", "doc_id", "xc", "yc", "lon", "lat"]

    def verify_stage_write(ctx, fr, oracle):
        from harness import sink_digest
        want = sink_digest(src().select(*cols6))
        same("run_stage output vs input", sink_digest(
            spark.read.parquet(os.path.join(stage_base, "pts"))
            .select(*cols6)), want)
        same("cell-partitioned output vs input", sink_digest(
            spark.read.parquet(part_path).select(*cols6)), want)
        same("resume is a no-op", ctx.digests["stage_records"][0], 0)
        same("stage record rows", sum(
            r for _, r in ctx.digests["stage_records"][1]), n_src)

    def run_bbox_pruned(ctx):
        ctx.sink("bbox", ctx.call("read_bbox_partitioned",
                                  lambda: B.read_bbox_partitioned(
                                      spark, part_path, *bbox,
                                      res=Q.CELL_RES, prefix_res=PREFIX_RES))
                 .select(*cols6))

    def run_bbox_full(ctx):
        ctx.sink("bbox", ctx.call("read_parquet", lambda: spark.read.parquet(
            part_path)).where(
            (F.col("lon") >= bbox[0]) & (F.col("lon") <= bbox[2])
            & (F.col("lat") >= bbox[1]) & (F.col("lat") <= bbox[3]))
            .select(*cols6))

    def verify_bbox(ctx, fr, oracle):
        oracle.check("bbox_select", fr["bbox"].select("url", "lon", "lat"),
                     O.ORACLES["bbox_select"])

    def reset_convert():
        shutil.rmtree(conv_dir, ignore_errors=True)
        os.makedirs(os.path.join(conv_dir, "fgb"))
        os.makedirs(os.path.join(conv_dir, "gpkg"))

    def run_convert(ctx):
        fgb = os.path.join(conv_dir, "fgb", "points.fgb")
        gpkg = os.path.join(conv_dir, "gpkg", "points.gpkg")
        n1 = ctx.call("convert_fgb", lambda: CV.convert(spark, conv_src, fgb))
        n2 = ctx.call("convert_gpkg",
                      lambda: CV.convert(spark, conv_src, gpkg))
        ctx.digests["written"] = (n1, n2)
        for label, read in (
                ("fgb", lambda: readers.read_fgb(
                    spark, os.path.join(conv_dir, "fgb"))),
                ("gpkg", lambda: readers.read_gpkg(
                    spark, os.path.join(conv_dir, "gpkg")))):
            ctx.sink(label, ctx.call(f"read_{label}", read).select(
                F.col("props")["doc_id"].cast("long").alias("doc_id"),
                C.point_x(F.col("geom")).cast("long").alias("x_c"),
                C.point_y(F.col("geom")).cast("long").alias("y_c"),
                F.col("geom.kind").alias("kind")))

    limit = f"LIMIT {Q.SHP_FIXTURE_CAP}"
    if O.ORACLES["fgb_decode"].count(limit) != 1:
        raise Mismatch("fgb_decode oracle no longer ends in its fixture cap")
    conv_oracle = O.ORACLES["fgb_decode"].replace(limit,
                                                  f"LIMIT {CONVERT_CAP}")

    def verify_convert(ctx, fr, oracle):
        for label in ("fgb", "gpkg"):
            oracle.check(f"convert {label} read-back",
                         fr[label].select("doc_id", "x_c", "y_c"),
                         conv_oracle)

    return Workload([
        Job("stage_write", run_stage_write, verify_stage_write,
            reset=reset_stage),
        Job("bbox_pruned", run_bbox_pruned, verify_bbox),
        Job("bbox_fullscan", run_bbox_full, verify_bbox),
        Job("convert", run_convert, verify_convert, reset=reset_convert),
    ], n_src + CONVERT_CAP,
        {"stage_write_s": ["stage_write"],
         "stage_read_s": ["bbox_pruned", "bbox_fullscan"],
         "convert_s": ["convert"]})


WORKLOADS = {"geo_tiles": geo_tiles, "neighbors": neighbors,
             "stage_io": stage_io}
