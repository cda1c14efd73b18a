"""Runnable tour of the mergeable sketch operators — the fixed-size
summaries that replace raw-data movement at 100 TB:

  1. HyperLogLog registers  sk.hll_registers / hll_merge / hll_estimate
     (distinct counts; shard sketches merge by per-register MAX)
  2. KMV / bottom-k         sk.kmv_sketch / kmv_estimate / kmv_jaccard
     (distinct counts AND set similarity from the same integer state)
  3. Count-Min              sk.cms_table / cms_heavy_hitters
     (frequency estimates, one-sided error: never undercounts)

Usage: python examples/sketches_tour.py [sf_dir]   (default sf0.01)
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from ape_dts_spark.functions import sketches as sk
from ape_dts_spark.functions.text import tokens_expr
from ape_dts_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("sketches-tour")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    print("== 1. HyperLogLog: distinct customers, then merge in suppliers ==")
    t0 = time.time()
    sc = sk.hll_registers(cust, "c_name")
    est = sk.hll_estimate(sc)
    true = cust.select("c_name").distinct().count()
    print(f"  customers: est {est:,.0f} vs true {true:,} "
          f"({abs(est - true) / true:.1%} err)  [{time.time() - t0:.1f}s]")
    merged = sk.hll_merge([sc, sk.hll_registers(supp, "s_name")])
    both = cust.select(F.col("c_name").alias("n")).unionByName(
        supp.select(F.col("s_name").alias("n")))
    print(f"  merged sketch est {sk.hll_estimate(merged):,.0f} vs true "
          f"{both.distinct().count():,} — the merge moved 256 integers, not rows")

    print("== 2. KMV bottom-k: distinct AND Jaccard from one sketch ==")
    t0 = time.time()
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").cast("string").alias("ck"))
    b = orders.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").cast("string").alias("ck"))
    row = sk.kmv_jaccard(a, "ck", b, "ck", 256).collect()[0]
    inter = a.distinct().join(b.distinct(), "ck").count()
    union = a.unionByName(b).distinct().count()
    print(f"  J(urgent-custkeys, high-custkeys): est {row['est_jaccard']:.3f} "
          f"vs true {inter / union:.3f}  [{time.time() - t0:.1f}s]")

    print("== 3. Count-Min: heavy-hitter tokens, never undercounted ==")
    t0 = time.time()
    toks = docs.select(F.explode(F.expr(tokens_expr("text"))).alias("tok"))
    hh = sk.cms_heavy_hitters(toks, "tok", 500).orderBy(F.col("est_cnt").desc())
    for r in hh.limit(5).collect():
        print(f"  {r['item']!r}: est >= {r['est_cnt']}")
    print(f"  [{time.time() - t0:.1f}s]  sketch is {sk.CMS_DEPTH} x {sk.CMS_WIDTH} "
          f"integers regardless of corpus size")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
