#!/usr/bin/env python
"""Embedding export + hard-triplet mining job (E2 + E3, spark-submit).

    spark-submit --py-files loc2vec_spark.zip jobs/run_mining.py \
        --images <dir> --out <dir> [--res 9] [--k 5] [--pca-k 8]

Pipeline (the reference's ``evaluate_embeddings`` + ``TripletMiner``
re-expressed, ``loc2vec_run.py:13-48`` / ``triplet_mining.py:22-164``):

images table
  -> ONE decode per tile (media.map_media, one Python crossing,
     cached): sharpness, embedding, and the embeddings of its
     seeded flip/rotate variants                               [E2]
  -> optional quality gate: a filter on the cached sharpness
  -> optional PCA projection (partial+final moments, broadcast
     components — optim.py:53-62 parity)                       [A6]
  -> cell assignment from caption/phash lat-lon                [F12]
  -> cell-blocked kNN top-k in embedding space                 [J5+W1]
  -> seeded pick within top-k (hard-negative choice)           [W2]
  -> embeddings + mined pairs written with lineage manifests   [S6/S8]

Every stage is resumable and deterministic; the kNN never materializes
an all-pairs matrix (the reference's own BAD note,
triplet_mining.py:17-20).
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window, functions as F, types as T  # noqa: E402

from loc2vec_spark import lineage  # noqa: E402
from loc2vec_spark.operators import geo, images as img_ops  # noqa: E402
from loc2vec_spark.operators import stats, triplets  # noqa: E402
from loc2vec_spark.operators.media import map_media  # noqa: E402
from loc2vec_spark.session import get_spark  # noqa: E402

TILE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("ok", T.BooleanType()),
    T.StructField("base_id", T.StringType()),     # source tile's id
    T.StructField("sharpness", T.DoubleType()),   # NULL below 3x3
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--res", type=int, default=9,
                    help="cell resolution for kNN blocking")
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--pca-k", type=int, default=0,
                    help="project embeddings to k dims first (0 = off)")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--cap", type=int, default=1024,
                    help="per-cell candidate cap (0 = exact, no cap)")
    ap.add_argument("--min-sharpness", type=float, default=0.0,
                    help="drop tiles whose Laplacian-variance sharpness "
                         "is below this (image_quality quality gate; "
                         "0 = off)")
    ap.add_argument("--augment-copies", type=int, default=0,
                    help="emit this many seeded flip/rotate variants "
                         "per tile into the embedding pool (0 = off)")
    ap.add_argument("--keep-session", action="store_true",
                    help="do not stop the SparkSession (in-process tests)")
    args = ap.parse_args(argv)

    spark = get_spark(app_name="loc2vec_mining")
    from loc2vec_spark.packaging import ensure_workers_can_import
    ensure_workers_can_import(spark)

    images = spark.read.parquet(args.images)

    # E2 in one pass: each tile decodes once, and its sharpness (the
    # image_quality gate signal), its embedding and the embeddings of
    # its seeded dihedral variants all come off the same pixels. The
    # id travels in the row (fixes the reference's positional
    # id/embedding misalignment, loc2vec_run.py:33-48). Cached: the
    # gate, PCA's two jobs, the embedding write and the cell join all
    # read this frame, so nothing downstream re-decodes.
    def featurize(iid, arr):
        sharp = (None if img_ops.degenerate(arr)
                 else round(img_ops.quality_signals(arr)[0], 6))
        rows = [(iid, True, iid, sharp, img_ops.embed(arr))]
        # variants (contrastive-training widening; the reference trains
        # on raw tiles only) are real rows with their own ids, so every
        # downstream stage (cells, kNN, lineage) treats them uniformly;
        # they carry their source tile's sharpness through the gate
        for vid, _op, aug in img_ops.variants(iid, arr, args.seed,
                                              args.augment_copies):
            rows.append((vid, True, iid, sharp, img_ops.embed(aug)))
        return rows

    tiles = map_media(images, "image_id", img_ops.decode_image, featurize,
                      TILE_SCHEMA).filter("ok").cache()

    # Quality gate (image face of the corpus job's text filters):
    # blurry/empty tiles drop out before the kNN; a NULL sharpness
    # (tile under 3x3) fails it.
    if args.min_sharpness > 0:
        tiles = tiles.filter(F.col("sharpness") >= args.min_sharpness)

    emb = tiles.select("image_id", "embedding")
    dim = 16
    if args.pca_k:
        feats = emb
        emb = stats.pca_project(feats.withColumn(
            "embedding", F.col("embedding").cast("array<double>")),
            id_col="image_id", emb_col="embedding",
            dim=dim, k=args.pca_k).withColumnRenamed("pca", "embedding") \
            .cache()
        dim = args.pca_k
    lineage.write_partitioned(
        emb.withColumn("bucket",
                       F.pmod(F.xxhash64("image_id"), F.lit(64))),
        os.path.join(args.out, "embeddings"),
        cell_col="bucket", id_col="image_id")

    # F12: cells from metadata (one pass for both the kNN-blocking and
    # output-partition resolutions) — a variant keeps its source tile's
    # location, so the kept tiles join on the base id; J5+W1:
    # cell-blocked kNN in embedding space
    cells = geo.with_cells(geo.with_latlon(images),
                           resolutions=(args.res, 7)) \
        .select(F.col("image_id").alias("base_id"),
                F.col(f"cell_r{args.res}").alias("cell"), "cell_r7")
    cells_all = tiles.select("image_id", "base_id").join(cells, "base_id") \
        .drop("base_id").cache()
    pts = cells_all.select("image_id", "cell") \
                   .filter(F.col("cell").isNotNull()) \
                   .join(emb, "image_id")
    topk = triplets.knn_topk(pts, id_col="image_id", emb_col="embedding",
                             cell_col="cell", res=args.res, dim=dim,
                             k=args.k, cap=args.cap or None)

    # W2: seeded pick within the top-k (triplet_mining.py:147, seeded —
    # the reference used unseeded random.choice; divergence §5.1)
    pick = (topk.withColumn(
        "pick_ord",
        F.expr(f"pmod(xxhash64(neighbor_id, {args.seed}), 1000000007)"))
        .withColumn("pr", F.row_number().over(
            Window.partitionBy("anchor_id").orderBy("pick_ord",
                                                    "neighbor_id")))
        .filter(F.col("pr") == 1)
        .select("anchor_id", F.col("neighbor_id").alias("hard_id")))

    mined = topk.join(pick, "anchor_id", "left")
    cells_out = cells_all.select(F.col("image_id").alias("anchor_id"),
                                 "cell_r7")
    out = mined.join(cells_out, "anchor_id") \
               .filter(F.col("cell_r7").isNotNull())
    index = lineage.write_resumable(out, os.path.join(args.out, "mined"),
                                    cell_col="cell_r7", id_col="anchor_id")
    print(f"committed {len(index)} partitions, "
          f"{sum(r['rows'] for r in index.values())} mined rows")
    if not args.keep_session:
        spark.stop()


if __name__ == "__main__":
    main()
