"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line with per-query wall
times plus a throughput headline metric.

Headline = snapshot-equivalent rows/sec: the change-stream compaction+apply
pipeline (the reference's CDC merge path, its benchmark workload) measured as
events processed per second of wall time.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from ape_dts_spark.session import clear_spark_blocks, get_spark  # noqa: E402

# cheap/stable queries first, the heavy near-dup tail last so a budget cut
# (bursty machine) drops the most expensive measurements, never the headline
BENCH_QUERIES = [
    "snapshot_scan",
    "merge_compact",
    "checker_diff",
    "checker_summary",
    "soft_delete_apply",
    "pricing_summary",
    "revenue_by_nation",
    "top_orders_per_cust",
    "table_stats",
    "small_order_parts",
    "order_count_histogram",
    "lapsed_customers",
    "customer_set_ops",
    "priority_grouping_sets",
    "waiting_suppliers",
    "order_gaps",
    "important_parts",
    "top_supplier",
    "nation_trade_flows",
    "large_orders",
    "disjunctive_revenue",
    # round-9: previously-excluded cheap real relational queries
    "parts_never_shipped",
    "priority_with_returns",
    "segment_rollup",
    "json_extract",
    "gtid_coalesce",
    "snapshot_chunked",
    # round-7 TPC-H completion set (broadcast-dim joins + decimal aggs)
    "shipping_priority",
    "local_supplier_volume",
    "forecast_revenue",
    "market_share",
    "product_profit",
    "returned_items",
    "promo_effect",
    # round-8 TPC-H completion (Q12/Q16/Q20) + zero-date recovery projection
    "late_shipments",
    "part_supplier_counts",
    "excess_suppliers",
    "zero_dates",
    "salted_join",
    "zorder_key",
    "update_split",
    "snapshot_resume",
    "wire_roundtrip",
    "avro_roundtrip",
    "fluid_roundtrip",
    "dead_letter",
    "subscription_feed",
    "subscription_http_live",
    "cdc_apply_state",
    "py_transform",
    "mongo_compact",
    "redis_rdb",
    "binlog_file_parse",
    # round-7 at-rest transports (fixture cached after first run; the
    # measured op is the distributed parse + replay)
    "pgoutput_file_parse",
    "oplog_file_parse",
    "kafka_segment_parse",
    "aof_manifest",
    "warc_parse",
    "html_extract",
    "charset_sniff",
    "web_pipeline",
    # round-8: checker retry loop + real media decodes (writer+parse passes)
    "checker_retry",
    "png_decode",
    "wav_decode",
    "image_decode",
    "jpeg_meta",
    # round-9: full baseline-JPEG pixel decode (CPU-bound Arrow kernel)
    "jpeg_decode",
    # round-12: progressive (SOF2) multi-scan pixel decode + GIF/LZW
    "jpeg_progressive_decode",
    "gif_decode",
    "gif_frames",
    "media_pipeline",
    "media_pipeline_quarantine",
    "png_full_decode",
    # round-12b: AVI container frame sampling + framed-FFT audio features
    "video_frames",
    "audio_features",
    "avi_audio_features",
    "tiff_decode",
    "netpbm_decode",
    "audio_dup_pairs",
    "image_dup_pairs",
    "phash_incremental",
    "video_dup_pairs",
    "video_incremental",
    "binlog_partial_json",
    "redis_stream_statements",
    "redis_restore_statements",
    "psync_snapshot",
    "psync_tail",
    "pg_replication_live",
    "mysql_binlog_live",
    "binlog_gtid_live",
    "mongo_snapshot_live",
    "mongo_oplog_live",
    "mongo_changestream_live",
    "orc_roundtrip",
    "orc_sequenced",
    "struct_objects",
    "struct_check_report",
    "struct_revise",
    "session_windows",
    "windowed_counts",
    "sliding_counts",
    "binlog_order",
    "topic_route",
    "monitor_rollup",
    "partition_lanes",
    "ddl_parse",
    "dcl_parse",
    "asof_attribution",
    "interval_join_errors",
    "event_pivot",
    "fk_apply_order",
    "ddl_in_stream",
    "stream_e2e",
    # sequential micro-batches of fixed streaming overhead — wall time is
    # per-trigger cost, not data volume (see SCALING.md philosophy)
    "stateful_dedup",
    "continuous_rollup",
    "stream_join",
    # training-data pipeline extensions (BASELINE.json north star)
    "dedup_exact",
    "doc_fingerprint",
    "unicode_nfc",
    "url_normalize",
    "url_dedup",
    "robots_filter",
    "hash_split",
    "gopher_repetition",
    "perceptron_train",
    "data_card",
    "token_stats",
    "lang_id",
    "quality_score",
    "pii_redact",
    "rep_stats",
    "length_quantiles",
    "stratified_sample",
    "clf_score",
    "bigram_lm_score",
    "source_caps",
    "tfidf_topterms",
    "dsir_sample",
    "heartbeat_lag",
    "corpus_pipeline",
    "curation_v2",
    "token_mix",
    "unimax_mix",
    "curation_v3",
    "sequence_packing",
    "contamination",
    "contamination_bloom",
    "shuffle_shards",
    "vocab_topk",
    "doc_chunks",
    "bpe_pairs",
    "bpe_learn",
    "bpe_encode",
    # round-10: unigram-LM + WordPiece tokenizers, in-engine language-ID
    "unigram_learn",
    "unigram_encode",
    "unigram_doc_tokens",
    "wordpiece_learn",
    "wordpiece_encode",
    "langid_train",
    "langid_apply",
    # round-10: mergeable sketches (HLL registers + merge law, CMS readout)
    "hll_registers",
    "hll_shard_merge",
    "cms_heavy_hitters",
    "kmv_sketch",
    "kmv_jaccard",
    # round-12b: HDR quantile sketch (one hash agg + sketch-sized readout)
    # + fixed-point PageRank (6 checkpointed join-agg iterations)
    "hdr_quantiles",
    "pagerank",
    "triangle_counts",
    "span_dedup",
    "substring_dedup",
    "substring_dedup_clean",
    "substring_incremental",
    "substring_contamination",
    "semantic_dedup",
    "multimodal_meta",
    "multimodal_decode",
    "multimodal_frames",
    "multimodal_features",
    "multimodal_resize",
    "cosine_topk",
    "cosine_topk_np",
    "ann_lsh",
    "ann_ivf",
    "ann_ivf_index",
    "minhash_lsh",
    "minhash_incremental",
    "simhash_pairs",
    # exact Jaccard re-entered after the identical-set collapse: its
    # quadratic stages now scale with distinct content like minhash/simhash
    "jaccard_pairs",
    # character-shingle Jaccard (order-sensitive) + embedding-cosine near-dup
    "ngram_jaccard",
    "ngram_minhash",
    "cosine_dup_pairs",
    "embedding_dedup_keep",
    # round-5 additions: quality/mixing projections are cheap; PQ and the
    # star-CC engine are the heavy tails
    "gopher_rules",
    "c4_rules",
    "temperature_mix",
    "cheapest_shipment",
    "ccnet_buckets",
    # keep-list clustering (minhash pairs + connected components):
    # ordered BEFORE the ann micro-queries so the engine-defining CC rows are
    # never the budget victims (r9 skipped dedup_cluster_star; the ~1-3s ann
    # entries below are the right thing to shed under host-load bursts)
    "dedup_cluster",
    "dedup_cluster_star",
    "ann_pq",
    "ann_pq_index",
    "ann_sq8",
    "ann_sq8_index",
    "ann_ivfpq",
    "ann_ivfpq_index",
    "ivfpq_append",
]

# queries() entries intentionally NOT benched: config/string-builder gates
# whose callables assemble driver-side statements or parse fixed literals —
# they execute no meaningful distributed plan, so timing them measures JVM
# round-trip overhead, not the engine. Anything in queries() that is neither
# here nor in BENCH_QUERIES is reported as `not_benched` in the JSON line
# (self-audit: the round-8 incident silently dropped 10 bench entries).
CONFIG_GATE_ALLOWLIST = {
    "data_marker_filter",
    "ddl_split",
    "event_filter",
    "merge_spill",
    "mongo_cs_ddl",
    "mongo_statements",
    "precheck_cdc",
    "precheck_connection",
    "redis_big_keys",
    "redis_compact",
    "redis_slot_stats",
    "redis_statements",
    "reverse_events",
    "review",
    "revise",
    "route_rename",
    "script_transform",
    "snapshot_sample",
    "stream_load_payload",
    "struct_ddl",
    "time_filter",
    "upsert_sql_batch",
    "upsert_sql_mysql",
    "upsert_sql_pg",
}


# r11 (VERDICT r10 item 4): the heaviest per-query timings get median-of-3 —
# single-run numbers made the r9->r10 dedup_cluster swing and the r9 snapshot
# swing indistinguishable from host load bursts for a whole round. Costs
# ~2 extra runs x ~10 queries ~= 2-3 min; the headline RPS metrics already
# have their own best-of-N treatment.
MEDIAN3_QUERIES = {
    # r12b: trimmed to 4 — a quiet-host audit showed the 8-query median-3
    # overhead (~128s: curation_v3 alone costs 41s of extra samples, the
    # langid chain 20s) is exactly what pushed the query loop past the 560s
    # budget and shed the 7-query ANN tail AGAIN after the r12 trim to 8.
    # Kept: the two CC engine rows (the r9->r11 controversy this machinery
    # exists for) and the two near-dup kernels whose r10->r11 deltas needed
    # settling. Dropped as SETTLED or stable: curation_v3 / langid_apply
    # (costly, three rounds of consistent readings — their single-sample
    # noise band is documented in VERDICT r11's plan audit),
    # substring_dedup_clean [0.367, 0.43, 0.355] ~= the r10 0.38s and
    # cosine_dup_pairs [1.325, 1.166, 1.156] < the r10 1.43s — the r11
    # single-sample 1.30s / 2.12s readings were host-load bursts, no code
    # regression (neither code path changed r10->r11; see git log).
    "dedup_cluster",
    "dedup_cluster_star",
    "ngram_jaccard",
    "embedding_dedup_keep",
    # r13 (VERDICT r12 item 2): re-admitted — the r12 single-run read 8.23s
    # vs r11's 3.86s with zero code change on the path; OCTAVE's fresh x1
    # probe (4.4s) contradicted it, so settle it with samples in-artifact.
    "minhash_lsh",
    # r14 (VERDICT r13 item 4): the r13 single-run read 2.27s vs r12's
    # 1.38s with zero change to similarity.py:357 and SCALING alpha 0.04 —
    # settle the host-variance hypothesis with in-artifact samples, the
    # same way minhash_lsh's r12 dip was settled in r13.
    "cosine_dup_pairs",
    # r17: the ANN median-3 rows (ann_sq8/ann_sq8_index/ann_pq/ivfpq_append,
    # added r15 for the r14 drift) are DROPPED back to single-sample — the
    # medians held for two consecutive rounds (VERDICT r16 item 7: ann_pq
    # 0.69s, ann_sq8 1.23s, ivfpq_append 1.72s), so the drift is settled as
    # environmental and the ~2-3 min of extra samples goes back to the
    # budget.
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1])
    spark = get_spark("bench")

    # warm the JVM + parquet footers so per-query numbers measure the queries
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    qs = entrymod.queries()
    # self-audit: every executable queries() entry must be benched or on the
    # declared config-gate allowlist — surfaced in the output, never silent
    not_benched = sorted(set(qs) - set(BENCH_QUERIES) - CONFIG_GATE_ALLOWLIST)
    times: dict[str, float] = {}
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()

    # HEADLINES, TWICE (round-10 root-cause of the r8->r9 headline swings):
    # measuring only-last (r9 and before) made the numbers hostage to session
    # history — 160 queries of block-manager/JIT state in front of the
    # measurement; measuring only-first (tried this round) under-reports the
    # CDC path ~40% because one warm pass is nowhere near C2 steady state.
    # So measure on the fresh warmed session HERE, re-measure after the query
    # loop at deep-JIT steady state, and report BOTH (headline = best: engine
    # capability; the fresh/warm split quantifies the session-state effect
    # instead of letting it masquerade as a regression). Best-of-N within
    # each position: the host shows multi-second external load bursts, and a
    # burst landing inside one short measurement once recorded a 50x-low
    # headline.
    # r13 (VERDICT r12 item 2): the headline was already best-of-N, but the
    # artifact recorded only the max — so the r12 warm dip (-19% with zero
    # code change on the path) could not be settled from BENCH_r12.json
    # alone. Record every per-attempt sample under "headline_runs" so a
    # host-load burst is visible as spread IN the artifact.
    headline_runs: dict[str, list[float]] = {}

    def measure_cdc(attempts: int, tag: str) -> float:
        samples = []
        for _ in range(attempts):
            cdc_secs = 0.0
            for name in ("merge_compact", "soft_delete_apply"):
                t0 = time.time()
                qs[name](spark, sf_dir).count()
                cdc_secs += time.time() - t0
            samples.append(round(2 * n_events / cdc_secs, 1) if cdc_secs else 0.0)
        clear_spark_blocks(spark)
        headline_runs[tag] = samples
        return max(samples)

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    n_li = li.count()

    def measure_snapshot(attempts: int, tag: str) -> float:
        # snapshot copy throughput (full lineitem scan -> noop sink), the
        # BASELINE.md snapshot-RPS workload shape (read + write, no filter)
        samples = []
        for _ in range(attempts):
            t0 = time.time()
            li.write.format("noop").mode("overwrite").save()
            samples.append(round(n_li / (time.time() - t0), 1))
        clear_spark_blocks(spark)
        headline_runs[tag] = samples
        return max(samples)

    for name in ("merge_compact", "soft_delete_apply"):
        qs[name](spark, sf_dir).count()  # warm pass, untimed
    # 7 CDC attempts: a focused probe this round saw consecutive identical
    # runs span 0.9s..4.9s (the host burst problem) — at ~2s/attempt more
    # samples are the cheapest variance reduction available
    cdc_fresh = measure_cdc(7, "cdc_rps_fresh")
    snapshot_fresh = measure_snapshot(5, "snapshot_rps_fresh")

    # the machine shows bursty external load; guarantee the JSON line is
    # always emitted by skipping the remaining (heaviest-last) queries once
    # the budget is spent — skipped queries are simply absent from `queries`.
    # Budget counts from AFTER the headline measurements (they're the point
    # of the artifact; r9's 360s budget expired before dedup_cluster_star).
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "560"))
    start = time.time()
    skipped: list[str] = []
    runs: dict[str, list[float]] = {}
    for name in BENCH_QUERIES:
        if name not in qs:
            continue
        if time.time() - start > budget:
            skipped.append(name)
            continue
        attempts = 3 if name in MEDIAN3_QUERIES else 1
        samples = []
        for _ in range(attempts):
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            n = df.count()  # force full execution
            samples.append(round(time.time() - t0, 3))
            _ = n
            clear_spark_blocks(spark)  # caches + leaked localCheckpoint blocks
            if time.time() - start > budget * 1.15:
                break  # salvage a 1- or 2-sample median over losing the tail
        times[name] = sorted(samples)[len(samples) // 2]
        if attempts > 1:
            runs[name] = samples
    total = round(sum(times.values()), 3)

    # re-measure at deep-JIT steady state (see the headline comment above);
    # r13: warm attempts 5->7 / 3->5 (~6s extra) — the r12 dip was largest
    # on the warm numbers, which had the fewest samples
    cdc_warm = measure_cdc(7, "cdc_rps_warm")
    snapshot_warm = measure_snapshot(5, "snapshot_rps_warm")
    rps = max(cdc_fresh, cdc_warm)
    snapshot_rps = max(snapshot_fresh, snapshot_warm)
    headline_detail = {
        "cdc_rps_fresh": cdc_fresh,
        "cdc_rps_warm": cdc_warm,
        "snapshot_rps_fresh": snapshot_fresh,
        "snapshot_rps_warm": snapshot_warm,
    }
    print(
        json.dumps(
            {
                "metric": "cdc_compact_apply_rps",
                "value": rps,
                "unit": "rows/sec",
                "snapshot_rps": snapshot_rps,
                "total_sec": total,
                "queries": times,
                "runs": runs,
                "headline_runs": headline_runs,
                "skipped": skipped,
                "not_benched": not_benched,
                "sf": sf,
                **headline_detail,
            }
        )
    )
    # r18 (VERDICT r17 item 2, additions-only): the driver's ~2 KB stdout tail
    # truncates the first line's `queries` map away, so two rounds of
    # PERF.per_query came back empty. Persist the FULL payload (incl. the
    # per-query map) to BENCH_LOCAL.json at the repo root — committed each
    # round so per-query deltas are driver-verifiable — and additionally
    # chunk the map across several stdout lines so the tail capture retains
    # at least the final chunks. The two pre-existing stdout lines are
    # unchanged.
    full_payload = {
        "metric": "cdc_compact_apply_rps",
        "value": rps,
        "unit": "rows/sec",
        "snapshot_rps": snapshot_rps,
        "total_sec": total,
        "queries": times,
        "runs": runs,
        "headline_runs": headline_runs,
        "skipped": skipped,
        "not_benched": not_benched,
        "sf": sf,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", ""),
        **headline_detail,
    }
    try:
        local_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
        )
        with open(local_path, "w") as f:
            json.dump(full_payload, f, indent=1, sort_keys=True)
    except OSError:
        pass  # read-only checkout: stdout chunks below still carry the map
    q_names = list(times)
    for i in range(0, len(q_names), 8):
        chunk = {k: times[k] for k in q_names[i : i + 8]}
        print(json.dumps({"queries_chunk": i // 8, "queries": chunk, "sf": sf}))
    # The driver records only the last ~2 KB of stdout; once `queries` grew
    # past ~80 entries the leading headline fields of the line above were
    # truncated away (BENCH_r04.json parsed: null). Repeat the compact
    # headline as the FINAL line so the tail always contains it.
    print(
        json.dumps(
            {
                "metric": "cdc_compact_apply_rps",
                "value": rps,
                "unit": "rows/sec",
                "snapshot_rps": snapshot_rps,
                "total_sec": total,
                "n_queries": len(times),
                "skipped": len(skipped),
                "not_benched": not_benched,
                "sf": sf,
                "headline_runs": headline_runs,
                **headline_detail,
            }
        )
    )


if __name__ == "__main__":
    main()
