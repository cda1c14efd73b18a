"""Physical-plan audit: dump `.explain(formatted)` for the headline queries
into PLANS.md, with the plan properties each query is graded on (pushdown,
pruning, broadcast, no nested-loop joins, Arrow kernels) extracted up top.

Usage: python tools/plans.py [sf_dir]   (default /root/testdata/sf0.01)

The test suite locks the critical properties (tests/test_plans.py); this
artifact makes the full plans reviewable without re-running Spark.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

AUDITED = [
    "snapshot_scan",      # pushdown + pruning into the parquet scan
    "merge_compact",      # single-exchange map-side-combined compaction
    "checker_diff",       # full-outer join on keys
    "cdc_apply_state",    # window dedup + effects union
    "pricing_summary",    # whole-stage codegen aggregation
    "revenue_by_nation",  # broadcast dimension joins
    "minhash_lsh",        # banding bucket-join, persisted signature reuse
    "ngram_minhash",      # shingle tokens through the same banding
    "jaccard_pairs",      # PPJoin prefix-filter equi-join
    "cosine_dup_pairs",   # per-bucket Arrow kernel, NO pairwise join
    "ann_lsh",            # exploded (band, value) equi-join
    "contamination",      # broadcast inverted-index join
    "shuffle_shards",     # repartition + in-shard window
    "token_mix",          # one grouped running-sum window
    "vocab_topk",         # partial top-k fold, no global vocabulary sort
    "redis_rdb",          # binaryFile scan -> Arrow parse
    "doc_chunks",         # per-row slicing + explode, no shuffle
    "bpe_pairs",          # pair fold, state = pair vocabulary
    "span_dedup",         # one window shuffle keyed on span text
    "semantic_dedup",     # Arrow assign + per-cluster kernel, no pair join
    "asof_attribution",   # union-merge as-of join, one key shuffle
    "interval_join_errors",  # bucketed-bin range join, no nested loop
    "contamination_bloom",   # Arrow bloom pre-filter + broadcast verify
    "corpus_pipeline",    # composed curation chain
    "event_pivot",        # pinned pivot, no discovery scan
    "fluid_roundtrip",    # schema-free map images -> typed cast
    "session_windows",    # single-exchange session aggregation
    "important_parts",    # Q11 decorrelation: single-row broadcast scalar
    "top_supplier",       # Q15 decorrelation: broadcast max + dim
    "bigram_lm_score",    # model-build aggs + hash equi-join scoring
    "tfidf_topterms",     # tf/df aggs + per-doc top-k window
    "source_caps",        # one group shuffle + window cap
    "monitor_rollup",     # two-level (sec -> minute) map-side rollup
    "partition_lanes",    # key-stability lane split + hash fan-out
    "ddl_parse",          # Arrow parser kernel over generated statements
    "salted_join",        # 16-way salt fan-out, equi-join on (key, salt)
    "nation_trade_flows", # Q7: one fact-fact hash join, 4 broadcast dims
    "sliding_counts",     # hopping windows, map-side combined
    # round 5
    "dedup_cluster_star", # star-CC rounds: groupBy-min + re-join, no BNLJ
    "ccnet_buckets",      # LM score joins + one per-lang ntile window
    "temperature_mix",    # count agg + broadcast quota + one window
    "ann_pq",             # Arrow encode+ADC+re-rank, corpus never shuffles
    "gopher_rules",       # pure projection, no shuffle
    "cheapest_shipment",  # per-group-min decorrelation: agg + equi-join
    "dead_letter",        # one from_json pass split into two projections
    "curation_v2",        # composed gate: rules -> tiers -> dedup -> mix
    # round 6
    "substring_dedup",    # dup-key broadcast onto grams + one doc window
    "substring_dedup_clean",  # spans per doc joined back, pure projection
    "substring_contamination",  # eval window-set broadcast join + island merge
    "ann_ivfpq",          # Arrow residual-ADC scan, corpus never shuffles
    "ann_ivfpq_index",    # cell-pruned codes scan + broadcast survivor re-rank
    "ddl_split",          # Arrow parser kernel, per-target explode
    # round 7: at-rest CDC transports — binaryFile scan -> Arrow whole-file
    # decode -> one key-window replay; no shuffle before the key window
    "binlog_file_parse",
    "pgoutput_file_parse",
    "oplog_file_parse",   # + per-_id Arrow fold (applyInPandas)
    "kafka_segment_parse",  # + envelope from_json decode
    "dsir_sample",        # hashed-feature aggs + broadcast LM + one top-k window
    "ivfpq_append",       # frozen-codebook Arrow encode + cell-partition union
    "aof_manifest",       # base-RDB + incr-RESP union -> one compact pass
    "stream_load_payload",  # one batch window + one groupBy body build
    "unimax_mix",         # count agg + broadcast level table + one rank window
    "curation_v3",        # span-removal -> DSIR -> UniMax composed chain
    "substring_incremental",  # index equi-join + batch-local agg + island merge
    # round 8
    "checker_retry",      # full diff then broadcast-semi re-checks (pending set)
    "late_shipments",     # Q12: one fact-fact hash join, CASE agg map-combined
    "part_supplier_counts",  # Q16: pair-distinct shuffle + broadcast anti NOT-IN
    "excess_suppliers",   # Q20: grouped DECIMAL threshold -> semi-join chain
    "bpe_encode",         # vocabulary replay + one exploded-symbol hash agg
    "png_decode",         # Arrow writer pass -> Arrow decode pass, no shuffle
    "image_decode",       # magic-dispatch mixed-format decode, no shuffle
    "zero_dates",         # pure JVM projection, no shuffle
    "warc_parse",         # Arrow writer pass -> Arrow record explode, no shuffle
    "html_extract",       # Arrow wrap pass -> Arrow extract pass, no shuffle
    "url_normalize",      # JVM url construction -> Arrow canonicalize, no shuffle
    "web_pipeline",       # composed WARC->transcode->extract chain + one id join
    "robots_filter",      # JVM fixture construction -> Arrow REP evaluation
    "unicode_nfc",        # JVM construction -> Arrow unicodedata kernel + id join
    "url_dedup",          # Arrow canonicalize -> one window shuffle on canonical
    "hash_split",         # pure JVM md5 bucket projection, no shuffle
    "gopher_repetition",  # one exploded (doc,n,gram) relation, two hash aggs
    "data_card",          # per-doc JVM exprs -> one tiny grouped agg
    "charset_sniff",      # Arrow generate pass -> Arrow sniff+decode pass
    # round 9
    "jpeg_decode",        # Arrow encode pass -> Arrow pixel-decode pass, no shuffle
    # round 10
    "unigram_encode",     # chunk-relation Viterbi fold (JVM aggregate/array_min)
                          # + one exploded-token hash agg — final-pass plan;
                          # the EM loop's per-pass shape is identical
    "langid_apply",       # one Arrow bag-and-score pass over the normalized text, no shuffle
    "wordpiece_encode",   # two codegen folds (longest-match table + greedy walk)
                          # + one exploded hash agg, no shuffle before it
    "hll_registers",      # md5 register/rank projection + one MAX hash agg
    "cms_heavy_hitters",  # sketch agg + distinct probes + broadcast cell join
    "kmv_jaccard",        # two top-k sketch heaps + semi-joins inside the union
    # round 12
    "jpeg_progressive_decode",  # Arrow multi-scan encode pass -> Arrow decode
                                # pass, no shuffle (same shape as jpeg_decode)
    "gif_decode",         # Arrow LZW encode pass -> Arrow decode pass, no shuffle
    "gif_frames",         # Arrow decode + in-kernel frame explode, no shuffle
    "media_pipeline",     # one mixed-format Arrow decode pass -> tiny grouped agg
    "png_full_decode",    # Arrow encode pass -> Arrow full-matrix decode, no shuffle
    "wav_decode",         # Arrow encode pass -> Arrow PCM-width decode, no shuffle
    # round 12b
    "audio_features",     # Arrow tone-encode pass -> Arrow framed-FFT kernel,
                          # no shuffle; vectorized rfft across frames
    "avi_audio_features", # same kernel through the AVI A/V-interleave parse
    "video_frames",       # Arrow AVI mux pass -> Arrow parse + in-kernel
                          # frame explode, no shuffle
    "tiff_decode",        # Arrow TIFF encode pass -> magic-dispatch decode
    "hdr_quantiles",      # one map-side-combined hash agg over the data;
                          # merge + window cumsum run on the ~400-bucket
                          # sketch relation, never on rows
    "c4_rules",           # pure JVM projection (line filters as array exprs),
                          # no shuffle
    "triangle_counts",    # degree-oriented wedge join + semi-join close +
                          # one agg — every join an equi-join on node ids
    # round 13
    "media_pipeline_quarantine",  # mixed decode with errors=null dead-letter
                          # columns, still one Arrow pass -> tiny grouped agg
    "zorder_key",         # Morton key as pure codegen shift/mask expression
                          # (no Python), one projection + one hash agg
    "netpbm_decode",      # Arrow writer pass -> Arrow six-format decode,
                          # no shuffle
    "audio_dup_pairs",    # constellation fingerprints: Arrow FFT-peak
                          # kernel -> fp equi-join (bucketed, never
                          # all-pairs) -> one (pair, dt) hash agg
    "image_dup_pairs",    # r14: pHash Arrow kernel -> 4x16-bit band
                          # equi-join (bucketed, never all-pairs) -> one
                          # pair hash agg + bit_count verify
    "orc_sequenced",      # r14: one distributed ORC scan over all pushes,
                          # broadcast ordinal join, ONE max_by shuffle
    "binlog_partial_json",  # r14: binaryFile scan -> Arrow binlog parse
                          # (diff re-apply inside the kernel), one window
                          # shuffle on the key
    "redis_stream_statements",  # r14: JVM-side generators -> grouped XADD
                          # rebuild + tiered command union, no Python rows
    "redis_restore_statements",  # r15: ONE key groupBy shuffle (map-side
                          # partial collect_list) -> one Arrow DUMP-encode
                          # kernel -> JVM command rendering
    "phash_incremental",  # r15: batch-only decode+band explode, equi-join
                          # vs (index UNION batch), one pair-dedup agg
    "video_dup_pairs",    # r15: per-frame pHash Arrow kernel -> band
                          # equi-join -> frame-dedup agg -> (pair, dt) agg
    "video_incremental",  # r15: batch-only frame banding vs persisted
                          # index union, counted-once frame matches
    # round 16
    "psync_tail",         # live tail commands through the SHARED command->
                          # entry compaction: Arrow wire pull -> persisted
                          # entry union -> two hash aggs + one key join
                          # (the redis_compact plan behind a socket source)
    "mongo_snapshot_live",  # two cursor-session Arrow scans (sample +
                          # resume) unioned, JSON projection — no shuffle
                          # beyond the endpoint repartition
    "mongo_oplog_live",   # Arrow wire tail -> one (schema,tb,id) shuffle
                          # into the fold kernel (the oplog_file shape)
    # pagerank: the returned plan is a scan of the final checkpointed rank
    # relation (lineage truncated by design) — per-iteration shape is one
    # shuffle join + one hash agg, locked in test_graph semantics instead
    # (perceptron_train / bpe_learn / unigram_learn / langid_train run their
    # loops inside the query function and return driver-built weight/vocab
    # tables — nothing to audit in the final plan; their shuffle discipline
    # is documented in the docstrings and the apply twins above share the
    # per-pass plan shape)
]

# queries whose plan legitimately contains a BroadcastNestedLoopJoin: the
# joined side is a SINGLE aggregate row (global total / saturation index /
# language count), the canonical decorrelated-scalar-subquery shape — O(N),
# not a plan bug
BNLJ_SANCTIONED = {"important_parts", "temperature_mix", "curation_v2",
                   "unimax_mix", "curation_v3",
                   # crossJoin of two SINGLE-ROW aggregates (k_used x inter)
                   "kmv_jaccard",
                   # crossJoins of CONSTANT range() generators (6 x 20 x 3
                   # rows) building the planted stream fixture JVM-side —
                   # the data path itself is grouped aggs + unions
                   "redis_stream_statements"}

# per-name sanction text where the generic single-row-broadcast wording
# would misdescribe the plan
BNLJ_TEXT = {
    "redis_stream_statements": (
        "nested-loop join of CONSTANT range() generators (6 x 20 x 3 rows, "
        "the planted fixture built JVM-side — sanctioned; the data path is "
        "grouped aggs + unions)"
    ),
}

MARKS = [
    ("PushedFilters: \\[[^]]*IsNotNull", "filter pushdown reaches the scan"),
    ("ReadSchema", "column pruning (ReadSchema)"),
    ("BroadcastHashJoin", "broadcast hash join"),
    ("SortMergeJoin", "sort-merge join"),
    ("WholeStageCodegen", "whole-stage codegen"),
    ("FlatMapGroupsInPandas", "Arrow grouped kernel"),
    ("MapInPandas", "Arrow map kernel"),
    ("MapInArrow", "Arrow map kernel (record batches)"),
    ("BroadcastNestedLoopJoin", "!! nested-loop join"),
    ("CartesianProduct", "!! cartesian product"),
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod
    from ape_dts_spark.session import get_spark

    spark = get_spark("plans")
    qs = entrymod.queries()
    out = [
        "# PLANS — physical-plan audit (auto-generated by tools/plans.py)",
        "",
        f"Scale: `{sf_dir}`. Properties are grep-extracted; full formatted",
        "plans follow. `!!` marks would be plan bugs (none expected —",
        "tests/test_plans.py locks the critical ones).",
        "",
    ]
    for name in AUDITED:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
            df._jdf.queryExecution(), "formatted"
        )
        spark.catalog.clearCache()
        found = [label for pat, label in MARKS if re.search(pat, plan)]
        if name in BNLJ_SANCTIONED:
            sanction = BNLJ_TEXT.get(
                name,
                "nested-loop join against a SINGLE-ROW broadcast (canonical "
                "decorrelated scalar subquery, O(N) — sanctioned)",
            )
            found = [
                sanction if f.startswith("!! nested-loop") else f for f in found
            ]
        out.append(f"## {name}")
        out.append("")
        out.append("Properties: " + ("; ".join(found) if found else "(none matched)"))
        out.append("")
        out.append("```")
        # tree + the scan details that prove pushdown/pruning (the rest of
        # the formatted footer repeats per-node output columns — omitted)
        head = plan.split("\n\n")[0]
        tree = head.strip().splitlines()
        if len(tree) > 120:  # cached-lineage plans repeat the full upstream
            tree = tree[:120] + [f"... ({len(tree) - 120} more lines: persisted-lineage repeats)"]
        out.append("\n".join(tree))
        details = [
            ln.strip()
            for ln in plan.splitlines()
            if re.match(r"\s*(PushedFilters|ReadSchema|Location):", ln)
        ]
        if details:
            out.append("-- scan details --")
            out.extend(dict.fromkeys(details))  # dedup, keep order
        out.append("```")
        out.append("")
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"PLANS.md written ({len(AUDITED)} queries)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
