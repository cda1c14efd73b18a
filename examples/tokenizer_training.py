"""Runnable tour of the in-engine TRAINING operators — the model-producing
half of the curation stack, all trained inside Spark with integer-exact
arithmetic (so every one has a bit-exact DuckDB oracle in the gate suite):

  1. BPE tokenizer          tx.bpe_learn / bpe_encode     (Sennrich 2016)
  2. Unigram-LM tokenizer   tx.unigram_learn / unigram_encode  (Kudo 2018)
  3. WordPiece tokenizer    tx.wordpiece_learn / wordpiece_encode (Schuster
                            & Nakajima 2012 — the BERT family; likelihood-
                            gain merges, '##' continuations, [UNK] fallback)
  4. Language-ID classifier tx.langid_train / langid_score (fastText shape,
                            Joulin et al. 2016 — one-vs-rest perceptrons
                            over hashed char 3-grams)

Usage: python examples/tokenizer_training.py [sf_dir]   (default sf0.001)

Scale notes (the 100-TB story, details in each docstring): both tokenizer
trainers compress the corpus to the weighted distinct word(-chunk) relation
first — one shuffle over the raw text, then every EM/merge iteration is
O(vocabulary). The lang-id trainer builds its hashed feature relation once
and re-scans it per class x iteration; only dim integers per update cross
to the driver.
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from ape_dts_spark.functions import text as tx
from ape_dts_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("tokenizer-training")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    print("== 1. BPE: 6 learned merges ==")
    t0 = time.time()
    for r in tx.bpe_learn(docs, "text", k=6).orderBy("step").collect():
        print(f"  step {r['step']}: {r['left_sym']!r} + {r['right_sym']!r}  (freq {r['freq']})")
    print(f"  [{time.time() - t0:.1f}s]  top encoded tokens:")
    for r in tx.bpe_encode(docs, "text", k=6).orderBy("freq", ascending=False).limit(5).collect():
        print(f"    {r['token']!r}: {r['freq']}")

    print("== 2. Unigram-LM: learned vocabulary (chars + top multi-char pieces) ==")
    t0 = time.time()
    vocab = tx.unigram_learn(docs, "text", vocab_size=12, rounds=2).collect()
    multi = sorted((r for r in vocab if len(r["piece"]) > 1), key=lambda r: -r["freq"])
    print(f"  [{time.time() - t0:.1f}s]  {len(vocab)} pieces; top multi-char:")
    for r in multi[:8]:
        print(f"    {r['piece']!r}: {r['freq']}")
    enc = tx.unigram_encode(docs, "text", vocab_size=12, rounds=2)
    top = enc.orderBy("freq", ascending=False).limit(5).collect()
    print("  top emitted tokens:", [(r["token"], r["freq"]) for r in top])

    print("== 3. WordPiece: likelihood-gain merges ==")
    t0 = time.time()
    for r in tx.wordpiece_learn(docs, "text", k=6).orderBy("step").collect():
        print(f"  step {r['step']}: {r['left_sym']!r} + {r['right_sym']!r}"
              f"  (pair freq {r['freq']}, score_q {r['score_q']})")
    print(f"  [{time.time() - t0:.1f}s]  top encoded tokens:")
    for r in tx.wordpiece_encode(docs, "text", k=6).orderBy("freq", ascending=False).limit(5).collect():
        print(f"    {r['token']!r}: {r['freq']}")

    print("== 4. Language-ID: train one-vs-rest perceptrons, score the corpus ==")
    langs = tuple(sorted(r["lang"] for r in docs.select("lang").distinct().collect()))
    t0 = time.time()
    weights = tx.langid_train(docs, langs)
    pred = tx.langid_score(docs, weights)
    agree = pred.join(docs, "doc_id").filter("pred_lang = lang").count()
    n = docs.count()
    print(f"  [{time.time() - t0:.1f}s]  classes {langs}; train-set agreement "
          f"{agree}/{n} (labels in the synthetic corpus are random wrt text, "
          f"so this measures the plumbing, not separability — see "
          f"tests/test_functions.py planted-language recovery for the real claim)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
