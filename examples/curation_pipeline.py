"""Runnable end-to-end training-data curation demo over the documents +
embeddings tables — the LLM-pipeline operators composed the way a real
curation job chains them:

  1. quality gate        (tx.quality_exprs composite score)
  2. model-based filter  (tx.classifier_score_exprs, fastText-shape)
  3. PII redaction       (tx.pii_exprs)
  4. exact + near dedup  (dd.exact_dedup keep-first, dd.remove_dup_spans
                          ExactSubstr span removal, dd.minhash_lsh_pairs
                          -> dd.keep_representatives keep list)
  5. decontamination     (tx.ngram_overlap vs a held-out eval slice)
  6. token-budget mixing (mx.token_quota per language)
  7. shard shuffle       (mx.deterministic_shuffle)
  8. sequence packing    (mx.sequence_packing greedy fill)

Usage: python examples/curation_pipeline.py [sf_dir]   (default sf0.001)

Every stage is the same oracle-gated operator the driver checks (see
__spark_entry__.queries / COVERAGE.md); this script just shows them wired
together, printing per-stage row counts.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from ape_dts_spark import demo
from ape_dts_spark.functions import dedup as dd
from ape_dts_spark.functions import mixing as mx
from ape_dts_spark.functions import text as tx
from ape_dts_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("curation-pipeline")
    docs = demo.load(spark, sf_dir, "documents")
    n0 = docs.count()

    # 1-2: heuristic quality gate + linear classifier filter
    sig = tx.quality_exprs("text")
    clf = tx.classifier_score_exprs("text")
    scored = docs.select(
        "doc_id", "lang", "n_chars", "text",
        *[F.expr(e).alias(n) for n, e in sig.items()],
        F.expr(clf["clf_label"]).alias("clf_label"),
    ).withColumn("q", F.expr(tx.QUALITY_SCORE))
    kept = scored.filter((F.col("q") >= 0.4) & (F.col("clf_label") == "keep"))
    n_qual = kept.count()

    # 3: redact PII in place
    red = tx.pii_exprs("text")
    kept = kept.withColumn("text", F.expr(red["redacted"]))

    # 4: exact dedup (keep smallest doc_id per text), then MinHash near-dup
    # keep list — survivors are component representatives
    exact = dd.exact_dedup(kept, "doc_id", "text")
    kept = kept.join(exact.select("doc_id"), "doc_id")
    # 4a: exact-substring removal (Lee et al. ExactSubstr) — drop every copy
    # of every cross-document >=16-token span, keep the cleaned text
    cleaned = dd.remove_dup_spans(kept, "doc_id", "text", min_tokens=16)
    kept = (
        kept.drop("text")
        .join(cleaned.select("doc_id", F.col("clean_text").alias("text")), "doc_id")
        .filter(F.length("text") > 0)
    )
    pairs = dd.minhash_lsh_pairs(kept, "doc_id", "text", threshold=0.95)
    reps = dd.keep_representatives(kept, "doc_id", pairs)
    kept = kept.join(
        reps.filter(F.col("doc_id") == F.col("rep_id")).select("doc_id"), "doc_id"
    )
    n_dedup = kept.count()

    # 5: decontaminate against the held-out eval slice
    eval_df = docs.filter(F.col("doc_id") % 7 == 0)
    contaminated = tx.ngram_overlap(kept, eval_df, "doc_id", "text", n=8).select(
        F.col("train_id").alias("doc_id")
    ).distinct()
    kept = kept.join(contaminated, "doc_id", "left_anti")
    n_clean = kept.count()

    # 6-7: per-language token budget, then deterministic shard shuffle
    quota = mx.token_quota(kept, "lang", 20_000, "n_chars", "doc_id")
    shards = mx.deterministic_shuffle(quota.select("doc_id"), "doc_id", n_shards=8, seed=1)
    final = quota.join(shards, "doc_id")
    n_final = final.count()

    # 8: pack into fixed token-budget training sequences
    packed = mx.sequence_packing(
        final.select("doc_id", F.col("n_chars").alias("n_tokens")),
        "n_tokens", 2048, id_col="doc_id", n_shards=8,
    )
    n_seqs = mx.pack_summary(packed).count()

    print(
        f"documents={n0} -> quality+clf={n_qual} -> dedup={n_dedup} "
        f"-> decontaminated={n_clean} -> budgeted+sharded={n_final} "
        f"-> packed_sequences={n_seqs}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
