#!/usr/bin/env python
"""End-to-end billion-scale ANN layout over the embeddings fixture — the
composition the similarity tier exists for (SCALING.md "r9 additions"):

    PYTHONPATH=. python examples/ann_pipeline.py [sf_dir]

Stages, each the 100 TB shape:

  1. quantizer sanity   — `assign_cells` + occupancy/skew diagnostic (the
                          ivf_balance check): one narrow Arrow kernel +
                          one groupBy(cell). Run BEFORE committing to any
                          cell-partitioned join; skew_ratio tells you
                          whether nlist is big enough.
  2. corpus×corpus kNN  — `cell_knn_join`: both sides cell-assigned, then
                          cell ⋈ cell shuffle_hash — NEITHER fact side
                          broadcasts; a hot cell is an AQE skew-split case
                          (machine-pinned in tests/test_skew.py).
  3. PQ compression     — `pq_encode`: 64-dim float32 (256 B) → m centroid
                          ids (a few bytes) + reconstruction MSE. The
                          memory half of IVF-PQ.
  4. ADC search         — `pq_adc_topk`: raw query vs codes through a
                          driver-built per-subspace lookup table; scoring
                          is m map lookups + a fold per row — the corpus's
                          vectors are never touched at query time.
  5. SQ8 middle tier    — `scalar_quantize_int8`: 4x smaller scans than
                          float32 for ~1e-2 relative error — the lever
                          BEFORE PQ's lossy codes; half-step error bound
                          |v-recon| <= scale/254 by construction.

The demo centroids/codebook are deterministic corpus subsets so every
stage is oracle-checkable in the catalog; production swaps in k-means
(`build_ivf_index`) and per-subspace k-means without changing any plan.
"""

from __future__ import annotations

import sys

from pyspark.sql import functions as F


def main(sf_dir: str = "/root/testdata/sf0.001") -> None:
    from savio_training_dask_2019_spark.operators.similarity import (
        assign_cells,
        cell_knn_join,
        pq_adc_topk,
        pq_encode,
    )
    from savio_training_dask_2019_spark.session import get_spark
    from savio_training_dask_2019_spark.sources import load_table

    spark = get_spark(app_name="ann-pipeline")
    emb = load_table(spark, sf_dir, "embeddings")

    # 1. coarse quantizer + balance check (demo centroids: vec_id % 31)
    from savio_training_dask_2019_spark.functions.vectors import as_double

    cents = emb.where(F.col("vec_id") % 31 == 0).select(
        F.col("vec_id").alias("cid"), as_double("embedding").alias("ce")
    )
    per_cell = (
        assign_cells(emb, "embedding", "vec_id", cents)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bal = per_cell.agg(
        F.count(F.lit(1)).alias("cells"),
        F.max("n").alias("max"),
        F.round(F.max("n") / F.avg("n"), 2).alias("skew"),
    ).first()
    print(f"quantizer: {bal['cells']} cells, max {bal['max']}, skew_ratio {bal['skew']}")

    # 2. corpus×corpus kNN within probed cells (query set: vec_id % 50)
    knn = cell_knn_join(
        emb.where(F.col("vec_id") % 50 == 0), emb, cents,
        "embedding", "vec_id", k=3, nprobe=2, exclude_self=True,
    )
    print(f"cell kNN pairs: {knn.count()}")

    # 2b. ...or in one call: the full coarse-prune + ADC composition
    from savio_training_dask_2019_spark.operators.similarity import ivfpq_topk

    cb_full = emb.where((F.col("vec_id") % 29 == 0) & (F.col("vec_id") < 1000)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    qv0 = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    composed = ivfpq_topk(
        emb, "embedding", "vec_id", cents, cb_full, qv0, m=4, dim=64, k=5, nprobe=2
    ).collect()
    print("IVF-PQ composed top-5:", [(r["id"], r["cell"], r["adc"]) for r in composed])

    # 2c. ...and with the exact third stage: ADC keeps a top-R shortlist,
    # only those R raw vectors are re-read, final cut on exact cosine
    reranked = ivfpq_topk(
        emb, "embedding", "vec_id", cents, cb_full, qv0,
        m=4, dim=64, k=5, nprobe=2, rerank_k=20,
    ).collect()
    print(
        "IVF-PQ reranked top-5:",
        [(r["id"], r["adc"], r["cosine"]) for r in reranked],
    )

    # 3+4. PQ encode the corpus, then ADC-search it with a raw query vector
    # (same demo codebook as stage 2b — defined once)
    cb_rows = [(int(r["cid"]), [float(x) for x in r["ce"]]) for r in cb_full.collect()]
    codes = pq_encode(emb, "embedding", "vec_id", cb_full, m=4, dim=64)
    top = pq_adc_topk(codes, cb_rows, qv0, m=4, dim=64, k=5).collect()
    print("ADC top-5:", [(r["id"], r["adc"]) for r in top])

    # 5. SQ8 middle tier — 4x smaller scans than float32 for ~1e-2 relative
    # error, the lever BEFORE PQ's lossy codes; half-step error bound
    # |v - recon| <= scale/254 by construction
    from savio_training_dask_2019_spark.operators.similarity import (
        scalar_quantize_int8,
    )

    q8 = scalar_quantize_int8(emb, "embedding", "vec_id", keep=("embedding",))
    errs = F.zip_with(
        as_double(F.col("embedding")),
        "codes",
        lambda a, c: F.abs(a - c.cast("double") * F.col("scale") / 127),
    )
    e8 = q8.agg(
        F.round(F.max(F.array_max(errs)), 5).alias("worst"),
        F.round(F.avg(F.array_max(errs)), 5).alias("mean_max"),
    ).collect()[0]
    print(
        f"SQ8 tier: int8 codes, reconstruction err worst {e8['worst']} / "
        f"mean-max {e8['mean_max']} (bound: scale/254)"
    )

    # 6. grade the approximate tier: recall@k of the cell-kNN results vs
    #    the exact-cosine ground truth (the retrieval_eval loop). The eval
    #    query set is small BY DESIGN — approximate tiers exist precisely
    #    so only this harness pays the exact corpus scan.
    from savio_training_dask_2019_spark.operators.similarity import brute_knn_join

    qs = emb.where(F.col("vec_id") % 50 == 0)
    truth = brute_knn_join(qs, emb, "embedding", "vec_id", k=3, exclude_self=True)
    n_truth = truth.count()
    n_hit = truth.join(
        knn.select("query_id", "corpus_id"), ["query_id", "corpus_id"], "left_semi"
    ).count()
    print(f"approx-tier recall@3 vs exact: {n_hit}/{n_truth} = {n_hit / n_truth:.3f}")
    print("ann pipeline complete")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001")
