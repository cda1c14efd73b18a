"""Runnable comparison of the ANN engines over the embeddings table —
exact brute force (the baseline), hyperplane LSH, trained IVF, product
quantization (ADC + exact re-rank), and the IVF-PQ composite (fused and
served-index variants) — printing recall@k vs exact and wall time per
engine.

Usage: python examples/ann_comparison.py [sf_dir] [k]   (default sf0.01, k=5)

Engines and their 100-TB arguments (see functions/similarity.py docstrings):

- cosine_topk      exact; broadcast queries, corpus scanned once (numpy GEMM
                   variant: cosine_topk_np). Cost = full flops.
- lsh_ann_topk     hyperplane signatures -> exploded (band, value) equi-join;
                   cost ~ collision volume.
- ivf_topk         sample-train-broadcast centroids; each query scores only
                   n_probe/n_lists of the corpus.
- pq_topk          m-byte codes (memory path); ADC table lookups + exact
                   re-rank of survivors.
- ivfpq_topk       IVFADC composite: pruned scan over residual codes; per-cell
                   ADC cut + exact re-rank.
- ivfpq_index_topk served index: cell-partitioned stored codes, pure ADC +
                   the deployed survivor re-rank stage.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from ape_dts_spark import demo
from ape_dts_spark.functions import similarity as sim
from ape_dts_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark("ann-comparison")
    emb = demo.load(spark, sf_dir, "embeddings").cache()
    n = emb.count()
    queries = emb.filter(F.col("vec_id") % 50 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100_000
    )
    nq = queries.count()
    print(f"corpus={n} vectors, {nq} queries (planted twins), k={k}")

    def pairs(df):
        return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}

    t0 = time.time()
    exact = pairs(sim.cosine_topk(queries, emb, "vec_id", "embedding", k=k))
    t_exact = time.time() - t0

    engines = {
        "lsh": lambda: sim.lsh_ann_topk(queries, emb, "vec_id", "embedding", dim=64, k=k),
        "ivf": lambda: sim.ivf_topk(queries, emb, "vec_id", "embedding",
                                    n_lists=16, n_probe=4, k=k),
        "pq": lambda: sim.pq_topk(queries, emb, "vec_id", "embedding",
                                  m=8, ks=16, k=k),
        "sq8": lambda: sim.sq8_topk(queries, emb, "vec_id", "embedding", k=k),
        "ivfpq": lambda: sim.ivfpq_topk(queries, emb, "vec_id", "embedding", k=k),
        "ivfpq_ix": lambda: sim.ivfpq_index_topk(
            sim.ivfpq_index(emb, "vec_id", "embedding"), queries,
            "vec_id", "embedding", k=k, rerank_with=emb),
    }
    print(f"{'engine':8s} {'recall@'+str(k):>9s} {'twin@1':>7s} {'sec':>6s}")
    print(f"{'exact':8s} {1.0:9.3f} {1.0:7.2f} {t_exact:6.2f}")
    for name, fn in engines.items():
        t0 = time.time()
        df = fn()
        got = pairs(df)
        secs = time.time() - t0
        recall = len(exact & got) / len(exact)
        top1 = {(r["query_id"], r["neighbor_id"]) for r in df.filter(F.col("rank") == 1).collect()}
        twins = sum(1 for q, nb in top1 if nb == q - 100_000) / nq
        print(f"{name:8s} {recall:9.3f} {twins:7.2f} {secs:6.2f}")


if __name__ == "__main__":
    main()
