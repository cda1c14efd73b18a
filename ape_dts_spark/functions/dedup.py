"""Deduplication operators for training-data pipelines: exact, token-set
Jaccard, MinHash+LSH, SimHash — all as shuffle-conscious DataFrame pipelines.

Design for 100 TB:
- exact dedup: single hash aggregation on the dedup key (map-side combine).
- Jaccard: explode to (doc, token) pairs and join on token — the classic
  inverted-index join. Shuffle key = token; mega-frequent tokens create skew,
  so `max_df` drops tokens appearing in more than that many docs (they carry
  ~no similarity signal but quadratic join cost). AQE skew-join splits the rest.
- MinHash/LSH: per-doc signature aggregation (one shuffle of |distinct
  (doc,token)|), then band-bucket self-join — candidate generation cost is
  ~sum(bucket^2) instead of n^2; candidates are then *verified* with true
  Jaccard so the operator's output is exact w.r.t. the threshold given the
  recall of the banding scheme.
- SimHash: same aggregation shape; pairs via byte-band blocking + Hamming
  distance check.

Everything is engine-portable (the token hash is the 31-polynomial from
functions/text.py), so DuckDB oracles reproduce results bit-for-bit — that is
why we avoid xxhash64/crc32 here.

The near-duplicate kernels — ``jaccard_pairs`` (exact PPJoin),
``minhash_lsh_pairs``, ``simhash_pairs``, and ``minhash_index`` +
``minhash_incremental_pairs`` — each keep their own plan but share one
private implementation per step:

- identical-set collapse ``_collapse_sets``: tokenize, one window shuffle to
  the min-id group representative, one persist;
- MinHash signatures ``_minhash_signatures`` and their band relation
  ``_bands_of``;
- bucket join ``_band_collisions``: the band self-join, or with an index the
  incremental probe (batch bands against index UNION batch) — also used by
  the image, video and audio kernels in functions/multimodal.py;
- exact verify ``_verify_jaccard`` (candidate-local ``array_intersect``),
  with ``_ceil_bound`` keeping every PPJoin bound at or below the exact one;
- pair expansion ``_expand_pairs``: group-level pairs back to doc pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window
from pyspark.storagelevel import StorageLevel

from ape_dts_spark.functions.text import PORTABLE_HASH_P, portable_hash_expr, tokens_expr

# 16 fixed (a, b) pairs for MinHash permutations h_i(x) = (a_i*x + b_i) mod p.
# Odd multipliers, deterministic across engines/runs (consecutive primes).
MINHASH_A = [
    1299721, 1299827, 1300021, 1300127, 1300243, 1300369, 1300481, 1300591,
    1300699, 1300807, 1300919, 1301027, 1301141, 1301251, 1301369, 1301477,
    1301497, 1301507, 1301527, 1301533, 1301539, 1301543, 1301551, 1301561,
    1301581, 1301591, 1301603, 1301617, 1301621, 1301669, 1301693, 1301701,
    1301711, 1301719, 1301761, 1301779, 1301821, 1301827, 1301849, 1301851,
    1301857, 1301863, 1301879, 1301887, 1301893, 1301903, 1301921, 1301929,
    1301939, 1301941, 1301957, 1301959, 1302017, 1302019, 1302029, 1302043,
    1302061, 1302079, 1302107, 1302121, 1302137, 1302151, 1302163, 1302173,
]
MINHASH_B = [
    15485863, 15485867, 15485917, 15485927, 15485933, 15485941, 15485959, 15485989,
    15485993, 15486013, 15486041, 15486047, 15486059, 15486071, 15486101, 15486139,
    15486157, 15486173, 15486181, 15486193, 15486209, 15486221, 15486227, 15486241,
    15486257, 15486259, 15486277, 15486281, 15486283, 15486287, 15486347, 15486421,
    15486433, 15486437, 15486451, 15486469, 15486481, 15486487, 15486491, 15486511,
    15486517, 15486533, 15486557, 15486571, 15486589, 15486649, 15486671, 15486673,
    15486703, 15486707, 15486719, 15486727, 15486739, 15486749, 15486769, 15486773,
    15486781, 15486791, 15486803, 15486827, 15486833, 15486857, 15486869, 15486871,
]
N_HASHES = 64
N_BANDS = 4
ROWS_PER_BAND = 4
SIMHASH_BITS = 32


def banding_for(threshold: float) -> tuple[int, int]:
    """(bands, rows_per_band) for the 64-hash signature, tuned so the LSH
    S-curve threshold (1/b)^(1/r) sits just below the requested Jaccard
    threshold — the standard parameterization (MMDS ch.3). A mistuned banding
    floods verification with mid-similarity candidates: at a 0.95 threshold,
    4x4 banding (curve midpoint 0.71) admits ~50x more candidates than 2x8
    (midpoint 0.92).

    High thresholds use the full 64 hashes as 4 bands x 16 rows — the same
    S-curve midpoint as 2x8 ((1/4)^(1/16) = (1/2)^(1/8) = 0.917) but a far
    sharper curve: measured on the x4 scaling corpus (3.2k distinct shingles
    across 20k docs -> background Jaccard ~0.5 between UNRELATED docs),
    2x8 banding admitted 699k candidates for 877 true pairs (background
    passes at J_bg^8 ~ 4e-3/band) where 4x16 passes J_bg^16 ~ 1.5e-5/band —
    ~100x fewer false candidates, and recall at J >= 0.95 *improves*
    (1-(1-J^16)^4 = 0.90 vs 0.89). The S-curve sharpness, not the bucket
    count, is what bounds verification cost on corpora with heavy shingle
    overlap. Lower thresholds keep 16-hash bandings (first 16 signature
    columns): their background J is far below the midpoint, so the extra
    hashes buy nothing."""
    if threshold >= 0.85:
        return 4, 16
    if threshold >= 0.55:
        return 4, 4
    return 8, 2


def exact_dedup(df: DataFrame, id_col: str, key_col: str) -> DataFrame:
    """Keep the smallest id per exact key value; report the duplicate count.

    One hash aggregation (map-side partial) — the canonical exact dedup at any
    scale. Returns (key_col omitted for width) -> (id_col, n_dups).
    """
    return (
        df.groupBy(key_col)
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups"))
        .select(id_col, "n_dups")
    )


def span_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 16,
) -> DataFrame:
    """Corpus-global span-level exact dedup (CCNet/RefinedWeb-style line
    dedup, adapted to token windows since the corpus has no line structure):
    split each document into non-overlapping ``span_tokens``-token spans,
    keep only the FIRST occurrence of each distinct span text corpus-wide
    (order = (doc_id, span_idx)), and reassemble the surviving spans per
    document.

    This removes boilerplate repeated across documents (headers, footers,
    license blocks) that document-level dedup can't touch.

    Scale shape: tokenize+slice per row (no shuffle), one window shuffle
    keyed on span text (skew bounded: a span repeated r times costs r rows in
    one partition — spans are near-unique by construction, unlike raw
    tokens), one group-back by doc id. Deterministic, engine-portable.
    Output: (id, clean_text, n_spans, n_dropped).
    """
    toks = df.select(F.col(id_col), F.expr(tokens_expr(text_col)).alias("_toks"))
    spans = toks.select(
        F.col(id_col),
        F.posexplode(
            # ceil(n/W) spans for n>0; one empty span for an empty doc so the
            # document still gets an output row
            F.expr(
                f"transform(sequence(0, CAST((greatest(size(_toks), 1) - 1) div {span_tokens} AS INT)), "
                f"i -> array_join(slice(_toks, i * {span_tokens} + 1, {span_tokens}), ' '))"
            )
        ).alias("span_idx", "span"),
    )
    w = Window.partitionBy("span").orderBy(F.col(id_col), F.col("span_idx"))
    ranked = spans.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy(id_col)
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(CASE WHEN _rn = 1 THEN "
                       "struct(span_idx, span) END)), x -> x.span)"),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("_rn") > 1, 1).otherwise(0)).alias("n_dropped"),
        )
        .select(id_col, "clean_text", "n_spans", "n_dropped")
    )


def span_dedup_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    span_tokens: int = 16,
) -> str:
    """DuckDB twin of span_dedup."""
    from ape_dts_spark.functions.text import tokens_sql

    return f"""
WITH toks AS (SELECT {id_col}, {tokens_sql(text_col)} AS t FROM {table}),
spans AS (
  SELECT {id_col}, CAST(i AS INT) AS span_idx,
         array_to_string(t[(i * {span_tokens} + 1):(i * {span_tokens} + {span_tokens})], ' ') AS span
  FROM toks, LATERAL unnest(range(0, (greatest(len(t), 1) - 1) // {span_tokens} + 1)) AS u(i)),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY span ORDER BY {id_col}, span_idx) AS rn
  FROM spans)
SELECT {id_col},
       COALESCE(string_agg(span, ' ' ORDER BY span_idx) FILTER (WHERE rn = 1), '') AS clean_text,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM ranked GROUP BY {id_col}
"""


def _token_hash_arr(toks: str, base: int) -> str:
    """SQL expr: per-token hash mod p over an array<string> column —
    ``base`` salts the hash to get independent families. Uses the native
    xxhash64 kernel instead of a per-character polynomial fold (ascii+split
    per char ran ~6 interpreted HOF ops per character; the hash value never
    reaches any gated output — the DuckDB oracles group windows by RAW TEXT,
    so any negligible-collision family is equivalent)."""
    salt = f"'{base}', " if base != 31 else ""
    return f"transform({toks}, t -> pmod(xxhash64({salt}t), {PORTABLE_HASH_P}))"


def _gram_hash_arr(harr: str, n: int, base: int) -> str:
    """SQL expr: rolling window fold — hash of each n-length window of an
    array<bigint> of token hashes (positions 0..len-n)."""
    return (
        f"transform(sequence(0, size({harr}) - {n}), i -> "
        f"aggregate(slice({harr}, i + 1, {n}), 0L, (a, h) -> (a * {base} + h) % {PORTABLE_HASH_P}))"
    )


def dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 16,
) -> DataFrame:
    """Exact-substring dedup span finder (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr dup-span
    semantics, suffix-array free): a token position is DUPLICATED when the
    ``min_tokens``-token window starting there occurs >= 2 times in the
    corpus (cross-document or self-repeat, matching suffix-array hits);
    maximal runs of duplicated windows merge into spans. Every substring of
    >= min_tokens tokens that appears twice anywhere is covered by exactly
    the spans this emits (any repeated substring has all its windows
    repeated), without ever materializing a suffix array.

    The distributed shape replaces the paper's single-node suffix array:
      1. per-doc token hashing, then per-position window hashes — TWO
         independent 31/37 polynomial families, so grouping on the pair has
         ~2^-62 false-collision odds where a single 31-bit hash over a
         100TB-scale position count would manufacture false dup seeds;
      2. groupBy((g1, g2)).count() — map-side partial aggregation bounds the
         skew of mega-frequent boilerplate windows (no per-key row explosion
         on the reduce side, unlike a window count);
      3. seeds join back on the hash pair (AQE-skew-safe equi-join), then a
         per-doc gaps-and-islands interval merge (one window shuffle keyed
         by doc id — bounded by document token counts).
    No pair relation ever materializes; total cost is two shuffles over the
    |positions|-row gram relation. Output: (id, span_start, span_end,
    span_tokens) with token-index half-open spans, span_tokens >= min_tokens.
    """
    n = min_tokens
    # persist: the dup-key aggregation AND the seed join both scan the gram
    # relation, and its per-character polynomial hashing is the dominant
    # cost — uncached the tokenize+hash chain runs twice
    grams = _gram_relation(df, id_col, text_col, n).persist(StorageLevel.MEMORY_AND_DISK)
    grams.count()
    dup_keys = (
        grams.groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("g1", "g2")
    )
    seeds = grams.join(dup_keys, ["g1", "g2"]).select("_id", "pos")
    return _merge_islands(seeds, n, id_col)


def _gram_relation(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(_id, pos, g1, g2): each token position's n-window under the two
    31/37 polynomial hash families (see dup_spans)."""
    hashed = (
        df.select(F.col(id_col).alias("_id"), F.expr(tokens_expr(text_col)).alias("_toks"))
        .filter(F.size("_toks") >= n)
        .select(
            "_id",
            F.expr(_token_hash_arr("_toks", 31)).alias("_h1"),
            F.expr(_token_hash_arr("_toks", 37)).alias("_h2"),
        )
    )
    return hashed.select(
        "_id",
        F.posexplode(
            F.expr(
                f"zip_with({_gram_hash_arr('_h1', n, 31)}, {_gram_hash_arr('_h2', n, 37)}, "
                f"(a, b) -> named_struct('g1', a, 'g2', b))"
            )
        ).alias("pos", "_g"),
    ).select("_id", "pos", F.col("_g.g1").alias("g1"), F.col("_g.g2").alias("g2"))


def _merge_islands(seeds: DataFrame, n: int, id_col: str) -> DataFrame:
    """Per-doc gaps-and-islands merge of covered windows [pos, pos+n) into
    maximal spans. Input: (_id, pos); output (id, span_start, span_end,
    span_tokens)."""
    w_prev = Window.partitionBy("_id").orderBy("pos").rowsBetween(Window.unboundedPreceding, -1)
    w_run = Window.partitionBy("_id").orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    islands = (
        seeds.withColumn("_prev_end", F.max(F.col("pos") + n).over(w_prev))
        .withColumn(
            "_brk",
            F.when(F.col("_prev_end").isNull() | (F.col("pos") > F.col("_prev_end")), 1).otherwise(0),
        )
        .withColumn("_gid", F.sum("_brk").over(w_run))
    )
    return (
        islands.groupBy("_id", "_gid")
        .agg(F.min("pos").alias("_s"), (F.max("pos") + n).alias("_e"))
        .select(
            F.col("_id").alias(id_col),
            F.col("_s").cast("long").alias("span_start"),
            F.col("_e").cast("long").alias("span_end"),
            (F.col("_e") - F.col("_s")).cast("long").alias("span_tokens"),
        )
    )


def substring_contamination_spans(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 16,
) -> DataFrame:
    """Exact-substring DECONTAMINATION (the other use Lee et al. 2022 put
    the machinery to): maximal spans in TRAIN documents every one of whose
    ``min_tokens``-token windows appears verbatim somewhere in the EVAL
    set — i.e. train text that leaks benchmark content, found at substring
    granularity instead of ngram_overlap's bag-of-8-grams heuristic.

    Scale shape mirrors dup_spans: the eval side reduces to its DISTINCT
    window-hash-pair set (benchmark suites are tiny next to a training
    corpus, so this relation broadcasts), one equi-join marks contaminated
    train positions, one doc-keyed window merges islands. Output:
    (id, span_start, span_end, span_tokens) on the train side; feed to the
    same removal policy as remove_dup_spans or drop the documents.
    """
    n = min_tokens
    tg = _gram_relation(train, id_col, text_col, n)
    eg = _gram_relation(eval_df, id_col, text_col, n).select("g1", "g2").distinct()
    seeds = tg.join(eg, ["g1", "g2"]).select("_id", "pos")
    return _merge_islands(seeds, n, id_col)


def substring_contamination_sql(
    table: str = "documents",
    train_cond: str = "doc_id % 7 <> 0",
    eval_cond: str = "doc_id % 7 = 0",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 16,
) -> str:
    """DuckDB oracle of substring_contamination_spans — raw-text window
    grouping (same independence argument as dup_spans_sql)."""
    from ape_dts_spark.functions.text import tokens_sql

    n = min_tokens
    return f"""
WITH toks AS (SELECT {id_col} AS id, {tokens_sql(text_col)} AS t FROM {table}),
g AS (
  SELECT id, CAST(i AS BIGINT) AS pos, array_to_string(t[(i + 1):(i + {n})], ' ') AS gram
  FROM toks, LATERAL unnest(range(0, len(t) - {n} + 1)) AS u(i)
  WHERE len(t) >= {n}),
eg AS (SELECT DISTINCT gram FROM g WHERE id {_cond_sql(eval_cond, id_col)}),
seeds AS (SELECT g.id, g.pos FROM g JOIN eg USING (gram)
          WHERE g.id {_cond_sql(train_cond, id_col)}),
o AS (SELECT id, pos, MAX(pos + {n}) OVER (PARTITION BY id ORDER BY pos
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM seeds),
b AS (SELECT *, CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS brk FROM o),
grp AS (SELECT *, SUM(brk) OVER (PARTITION BY id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS gid FROM b)
SELECT id AS {id_col}, CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {n} AS BIGINT) AS span_end,
       CAST(MAX(pos) + {n} - MIN(pos) AS BIGINT) AS span_tokens
FROM grp GROUP BY id, gid
"""


def _cond_sql(cond: str, id_col: str) -> str:
    """Rewrite a '<id_col> <op> ...' condition to apply to the aliased id
    column of the gram CTE (conditions are '{id_col} % k ...' shapes)."""
    stripped = cond.strip()
    if stripped.startswith(id_col):
        return stripped[len(id_col):].strip()
    raise ValueError(f"condition must start with {id_col!r}: {cond!r}")


def dup_spans_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 16,
) -> str:
    """DuckDB oracle of dup_spans — deliberately groups windows by their RAW
    TEXT instead of replicating the Spark side's 31/37 double hash: a match
    therefore proves the hash-pair grouping introduced no false or missed
    dup seeds, not merely that both engines hash alike."""
    from ape_dts_spark.functions.text import tokens_sql

    n = min_tokens
    return f"""
WITH toks AS (SELECT {id_col} AS id, {tokens_sql(text_col)} AS t FROM {table}),
g AS (
  SELECT id, CAST(i AS BIGINT) AS pos, array_to_string(t[(i + 1):(i + {n})], ' ') AS gram
  FROM toks, LATERAL unnest(range(0, len(t) - {n} + 1)) AS u(i)
  WHERE len(t) >= {n}),
dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 2),
seeds AS (SELECT g.id, g.pos FROM g JOIN dup USING (gram)),
o AS (SELECT id, pos, MAX(pos + {n}) OVER (PARTITION BY id ORDER BY pos
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM seeds),
b AS (SELECT *, CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END AS brk FROM o),
grp AS (SELECT *, SUM(brk) OVER (PARTITION BY id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS gid FROM b)
SELECT id AS {id_col}, CAST(MIN(pos) AS BIGINT) AS span_start,
       CAST(MAX(pos) + {n} AS BIGINT) AS span_end,
       CAST(MAX(pos) + {n} - MIN(pos) AS BIGINT) AS span_tokens
FROM grp GROUP BY id, gid
"""


def remove_dup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 16,
) -> DataFrame:
    """Apply the Lee et al. removal policy to dup_spans output: drop EVERY
    copy of every duplicated span (the paper's ExactSubstr choice — unlike
    near-dup keep-lists, no occurrence is privileged) and reassemble the
    surviving tokens. Documents without spans pass through with their
    normalized token stream intact.

    One broadcast-or-shuffle left join of docs against their (few) spans
    aggregated per doc, then a pure projection — covered positions are
    filtered with an exists() over the span array, no explode of the token
    relation. Output: (id, clean_text, n_tokens, n_removed).
    """
    return remove_spans(df, dup_spans(df, id_col, text_col, min_tokens), id_col, text_col)


def remove_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply ANY (id, span_start, span_end) span table to a document
    relation — the shared removal half behind remove_dup_spans, and the way
    substring_contamination_spans output is consumed (drop the leaked text,
    keep the document). Documents without spans pass through with their
    normalized token stream intact. Output: (id, clean_text, n_tokens,
    n_removed)."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    toks = df.select(F.col(id_col), F.expr(tokens_expr(text_col)).alias("_toks"))
    joined = toks.join(per_doc, id_col, "left").withColumn(
        "_kept",
        F.expr(
            "CASE WHEN _spans IS NULL THEN _toks ELSE "
            "transform(filter(sequence(0, size(_toks) - 1), i -> "
            "NOT exists(_spans, s -> i >= s.span_start AND i < s.span_end)), "
            "i -> _toks[i]) END"
        ),
    )
    return joined.select(
        F.col(id_col),
        F.array_join("_kept", " ").alias("clean_text"),
        F.size("_toks").cast("long").alias("n_tokens"),
        (F.size("_toks") - F.size("_kept")).cast("long").alias("n_removed"),
    )


def remove_dup_spans_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 16,
) -> str:
    """DuckDB twin of remove_dup_spans (same raw-text grouping as
    dup_spans_sql)."""
    from ape_dts_spark.functions.text import tokens_sql

    return f"""
WITH spans AS ({dup_spans_sql(table, id_col, text_col, min_tokens)}),
per_doc AS (
  SELECT {id_col}, list({{'s': span_start, 'e': span_end}}) AS sp
  FROM spans GROUP BY {id_col}),
toks AS (SELECT {id_col}, {tokens_sql(text_col)} AS t FROM {table}),
j AS (SELECT toks.{id_col} AS id, t, COALESCE(sp, []) AS sp
      FROM toks LEFT JOIN per_doc ON toks.{id_col} = per_doc.{id_col}),
k AS (SELECT id, t,
        list_transform(list_filter(range(0, len(t)), i ->
          len(list_filter(sp, s -> i >= s.s AND i < s.e)) = 0), i -> t[i + 1]) AS kept
      FROM j)
SELECT id AS {id_col}, COALESCE(array_to_string(kept, ' '), '') AS clean_text,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(t) - len(kept) AS BIGINT) AS n_removed
FROM k
"""


def doc_tokens(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(id, token) distinct pairs — the inverted-index building block."""
    return (
        df.select(F.col(id_col), F.explode(F.expr(tokens_expr(text_col))).alias("token"))
        .distinct()
    )


def _fan_out(df: DataFrame) -> DataFrame:
    """Persisted repartition barrier ahead of a CPU-heavy projection.

    A small corpus parquet arrives as ONE input split, and tokenize +
    array_distinct + array_sort is the heaviest projection in the dedup
    pipelines — left on the scan's partitioning it runs on one core
    (measured 26 s of a 28 s sf0.1 shingle-MinHash run single-threaded).
    The persist+count is what makes the fan-out real: Catalyst pushes
    deterministic projections through a round-robin Exchange, so a bare
    ``repartition().select()`` still tokenizes on the map side; projecting
    from the cached partitions cannot be pushed anywhere. (Bytes-based AQE
    coalescing never helps here: the cost is per-token CPU, not I/O.)"""
    par = df.sparkSession.sparkContext.defaultParallelism
    src = df.repartition(par).persist(StorageLevel.MEMORY_AND_DISK)
    src.count()
    return src


def _collapse_sets(
    df: DataFrame, id_col: str, text_col: str, tokens: str | None
) -> tuple[DataFrame, DataFrame]:
    """Identical-set collapse, the first step of every token-set kernel.

    Jaccard and MinHash are pure functions of the token SET, so the
    quadratic stages run over distinct sets and doc pairs are expanded
    afterwards (:func:`_expand_pairs`). Each doc's sorted distinct token
    array gets ``_rep`` = the min doc id over its identical-set group, and
    the group size rides the same window shuffle; one eager persist then
    serves both relations (a lazily-populated cache lets the concurrent
    self-join branches race and redo the tokenize). Docs without tokens get
    no set and so no pairs.

    Returns ``(members, sets)``: members ``(_id, _rep, _n)`` with ``_n`` the
    set size, sets ``(_rep, _toks, _gsz)`` one row per distinct set."""
    # fan out only for custom tokenizers (shingles): their tokenize is the
    # CPU-heavy stage that single-threads on one input split; for cheap word
    # tokens the barrier's extra shuffles+persists COST more than they save
    # (word minhash measured 3.5s -> 10.6s with an unconditional barrier)
    src = _fan_out(df) if tokens else df
    w_set = Window.partitionBy("_toks")
    memb = (
        src.select(
            F.col(id_col).alias("_id"),
            F.array_sort(F.array_distinct(F.expr(tokens or tokens_expr(text_col)))).alias("_toks"),
        )
        .filter(F.size("_toks") > 0)
        .withColumn("_rep", F.min("_id").over(w_set))
        .withColumn("_gsz", F.count(F.lit(1)).over(w_set))
    )
    if tokens:
        # shingle path: keep full CPU parallelism downstream (AQE coalesces
        # the tiny window exchange to ~1 partition, which would
        # single-thread the signature / prefix stages)
        memb = memb.repartition(df.sparkSession.sparkContext.defaultParallelism)
    memb = memb.persist(StorageLevel.MEMORY_AND_DISK)
    memb.count()
    members = memb.select("_id", "_rep", F.size("_toks").alias("_n"))
    sets = memb.filter(F.col("_id") == F.col("_rep")).select("_rep", "_toks", "_gsz")
    return members, sets


def _ceil_bound(x):
    """ceil of a PPJoin bound computed in doubles. The double product can
    overshoot the exact rational (0.8 / 1.8 * 63 = 28.000000000000004,
    0.55 * 100 = 55.00000000000001), and its ceil would prune pairs at
    J == threshold; the slack keeps every bound at or below the exact one
    (a looser bound only prunes less)."""
    return F.ceil(x - F.lit(1e-6))


def _token_num() -> str:
    return portable_hash_expr("token")


def _minhash_signatures(sets: DataFrame, token_num: str | None, n_hashes: int) -> DataFrame:
    """``(_rep, m_0..m_{n_hashes-1})``: per distinct set, the min of each of
    the first ``n_hashes`` permutations (a*tn + b) mod p over its tokens —
    one groupBy over the exploded (set, token) relation. ``token_num``
    derives the numeric token ``tn``: the portable string hash by default,
    ``"token"`` when the tokens are already hashed BIGINTs
    (text.hashed_shingles_expr). An incremental pass must derive ``tn`` the
    same way its index build did, or the signatures diverge."""
    tok = sets.select("_rep", F.explode("_toks").alias("token")).withColumn(
        "tn", F.expr(token_num or _token_num())
    )
    return tok.groupBy("_rep").agg(
        *[
            F.min(
                F.expr(f"(CAST({MINHASH_A[i]} AS BIGINT) * tn + {MINHASH_B[i]}) % {PORTABLE_HASH_P}")
            ).alias(f"m_{i}")
            for i in range(n_hashes)
        ]
    )


def _band_hash(i: int, rows_per_band: int = ROWS_PER_BAND) -> str:
    """Combine one band's minhashes into a single bucket key. Each fold step
    reduces mod 2^31-1 so the accumulator never exceeds ~2^36 (m values are
    < 2^31; an unreduced 8-row fold would overflow int64)."""
    expr = f"m_{i * rows_per_band}"
    for j in range(1, rows_per_band):
        expr = f"(({expr} * 31 + m_{i * rows_per_band + j}) % {PORTABLE_HASH_P})"
    return expr


def _bands_of(sigs: DataFrame, n_bands: int, rows_per_band: int) -> DataFrame:
    """The band relation ``(rep, band, bh)`` of a signature table: one row
    per (set, band), ``bh`` the band's folded bucket key."""
    bands = None
    for i in range(n_bands):
        part = sigs.select(
            F.col("_rep").alias("rep"),
            F.lit(i).alias("band"),
            F.expr(_band_hash(i, rows_per_band)).alias("bh"),
        )
        bands = part if bands is None else bands.unionByName(part)
    return bands


def _band_collisions(
    bands: DataFrame,
    on: list[str],
    key: str,
    carry: tuple[str, ...] = (),
    index: DataFrame | None = None,
) -> DataFrame:
    """Bucket equi-join of a band relation: every pair of rows sharing all
    ``on`` columns, as ``({key}_a, {key}_b)`` with ``{key}_a < {key}_b``;
    each ``carry`` column follows its side as ``{c}_a`` / ``{c}_b``. Never
    all-pairs: a pair is only seen where a concrete bucket matches, once per
    matching bucket (callers dedup or count).

    With ``index`` (the same columns, an earlier build) this is the
    incremental probe: ``bands`` is the new batch, joined against
    (index UNION batch), so only pairs touching the batch come out — a
    batch row meets an index row from the batch side, and another batch
    row once, from the lesser key. Self-matches never pair."""

    def side(rel: DataFrame, s: str) -> DataFrame:
        return rel.select(F.col(key).alias(f"_k{s}"), *(F.col(c).alias(f"_{c}{s}") for c in carry), *on)

    probe = side(bands, "n")
    if index is None:
        hits = probe.join(side(bands, "o"), on).filter(F.col("_kn") < F.col("_ko"))
        lo = F.lit(True)  # folds away, so the probe side's partitioning carries over
    else:
        other = side(index, "o").withColumn("_new", F.lit(False)).unionByName(
            side(bands, "o").withColumn("_new", F.lit(True))
        )
        hits = probe.join(other, on).filter(
            F.when(F.col("_new"), F.col("_kn") < F.col("_ko")).otherwise(F.col("_kn") != F.col("_ko"))
        )
        lo = F.col("_kn") < F.col("_ko")
    out = []
    for src, dst in [("k", key), *((c, c) for c in carry)]:
        n, o = F.col(f"_{src}n"), F.col(f"_{src}o")
        out += [F.when(lo, n).otherwise(o).alias(f"{dst}_a"), F.when(lo, o).otherwise(n).alias(f"{dst}_b")]
    return hits.select(*out)


def _verify_jaccard(candidates: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """Exact token-set Jaccard of candidate set pairs ``(rep_a, rep_b)``:
    candidate-local — each pair fetches its two sets (two rep-keyed joins)
    and intersects them, O(|candidates| x set size), never a corpus-wide
    join. The lossless size-ratio filter (J >= t implies min(n_a, n_b) >=
    ceil(t * max)) drops pairs before any intersection is computed. Returns
    the persisted ``(rep_a, rep_b, shared, n_a, n_b, jaccard)`` rows with
    jaccard >= threshold."""
    toks_a = sets.select(F.col("_rep").alias("rep_a"), F.col("_toks").alias("toks_a"))
    toks_b = sets.select(F.col("_rep").alias("rep_b"), F.col("_toks").alias("toks_b"))
    set_pairs = (
        candidates.join(toks_a, "rep_a")
        .join(toks_b, "rep_b")
        .withColumn("n_a", F.size("toks_a"))
        .withColumn("n_b", F.size("toks_b"))
        .filter(F.least("n_a", "n_b") >= _ceil_bound(F.lit(threshold) * F.greatest("n_a", "n_b")))
        .withColumn("shared", F.size(F.array_intersect("toks_a", "toks_b")))
        .withColumn(
            "jaccard",
            F.col("shared").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("rep_a", "rep_b", "shared", "n_a", "n_b", "jaccard")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    set_pairs.count()
    return set_pairs


def _expand_pairs(
    members: DataFrame,
    rep_pairs: DataFrame,
    within: list,
    cross: list,
    touching: str | None = None,
) -> DataFrame:
    """Group-level pairs back to doc pairs ``(id_a, id_b, ...)``, id_a < id_b.

    ``members`` ``(_id, _rep, ...)`` maps each doc to its group; ``rep_pairs``
    ``(rep_a, rep_b, ...)`` holds the verified pairs of distinct groups.
    Within a group every doc pair gets the ``within`` columns (the group's
    member columns are ``mb.<col>``); across groups the group cross product
    gets the ``cross`` columns (over rep_pairs' columns and ``ia`` / ``ib``,
    the rep_a / rep_b side ids before ordering). ``touching`` names a
    boolean member column: only pairs with it true on a side are kept."""
    ma, mb = members.alias("ma"), members.alias("mb")
    in_group = ma.join(mb, F.col("ma._rep") == F.col("mb._rep")).filter(F.col("ma._id") < F.col("mb._id"))

    def side(s: str) -> DataFrame:
        cols = [F.col("_rep").alias(f"rep_{s}"), F.col("_id").alias(f"i{s}")]
        if touching:
            cols.append(F.col(touching).alias(f"t{s}"))
        return members.select(*cols)

    across = rep_pairs.join(side("a"), "rep_a").join(side("b"), "rep_b")
    if touching:
        in_group = in_group.filter(F.col(f"ma.{touching}") | F.col(f"mb.{touching}"))
        across = across.filter(F.col("ta") | F.col("tb"))
    return in_group.select(F.col("ma._id").alias("id_a"), F.col("mb._id").alias("id_b"), *within).unionByName(
        across.select(F.least("ia", "ib").alias("id_a"), F.greatest("ia", "ib").alias("id_b"), *cross)
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.6,
    max_df: int | None = None,
    tokens: str | None = None,
    max_candidate_fanout: int | None = 200_000_000,
) -> DataFrame:
    """All document pairs with token-set Jaccard >= threshold — **exact**, via
    prefix filtering (AllPairs/PPJoin): under a global token order (by
    document frequency, rarest first), two sets with J >= t must share a token
    within each one's first ``|d| - ceil(t*|d|) + 1`` tokens. Only those
    prefixes enter the inverted-index join, so at t=0.95 a 20-token doc
    indexes 2 tokens instead of 20 — ~100x less join fan-out than the naive
    token join, with zero loss (completeness is the prefix-filter theorem,
    not a probabilistic bound like MinHash). Candidates are then verified
    with the true intersection over the full token sets.

    Output: (id_a, id_b, shared, n_a, n_b, jaccard), id_a < id_b.
    `max_df` prunes tokens present in more than max_df docs before anything
    else (skew + noise guard for web-scale corpora; changes semantics).

    **Identical-set collapse** (same as minhash_lsh_pairs): Jaccard is a pure
    function of the token set, so the prefix-filter join, candidate dedup and
    verification run over DISTINCT token sets only; doc pairs are expanded
    afterwards (within a set group every pair is J=1; cross-group pairs
    inherit the set-level stats, with n_a/n_b following the id_a<id_b
    normalization). Output is bit-identical to the per-doc pipeline, but the
    quadratic stages scale with distinct content — on duplicate-heavy corpora
    the candidate join previously scaled with raw doc count, which kept this
    operator out of the benchmark.

    `tokens` overrides the tokenizer with any SQL expression returning
    array<string> (e.g. text.shingles_expr over a materialized normalized
    column for character-n-gram Jaccard); default is word tokens.

    **Density guard** (`max_candidate_fanout`): the prefix-filter join is
    pair-density quadratic — Σ over prefix tokens of C(df_prefix, 2) rows
    before the PPJoin filters. On high-df shingle corpora that sum grows
    ~quadratically with corpus size (SCALING alpha 1.77 for the ngram gate),
    so a 100× caller would silently run a scale-killer. Before the join, the
    guard computes that sum with one cheap aggregate over the (persisted)
    prefix relation and RAISES when it exceeds the cap, naming the
    banding-bounded sibling (minhash_lsh_pairs / ngram_minhash, alpha < 1)
    and the semantics-preserving knobs (higher threshold, max_df). It
    raises rather than auto-routing because MinHash recall is probabilistic
    — silently swapping engines would change answers. Pass ``None`` to run
    dense anyway (the exact-oracle calibration use case).
    """
    members, sets = _collapse_sets(df, id_col, text_col, tokens)

    tok = sets.select("_rep", "_gsz", F.explode("_toks").alias("token"))
    # document frequency = sum of group sizes (identical to the per-doc df)
    freq = tok.groupBy("token").agg(F.sum("_gsz").alias("_df"))
    tokf = tok.join(freq, "token")
    if max_df is not None:
        tokf = tokf.filter(F.col("_df") <= max_df)
    # global order: document frequency ascending (rarest first), token tiebreak
    per_rep = Window.partitionBy("_rep")
    ranked = tokf.withColumn(
        "_pos", F.row_number().over(per_rep.orderBy("_df", "token"))
    ).withColumn("n", F.count(F.lit(1)).over(per_rep))
    prefix = (
        ranked.filter(F.col("_pos") <= F.col("n") - _ceil_bound(F.lit(threshold) * F.col("n")) + 1)
        .select("_rep", "token", "_pos", "n")
    )
    if max_candidate_fanout is not None:
        # persist so the estimate pass and the join share the ranked prefix
        prefix = prefix.persist(StorageLevel.MEMORY_AND_DISK)
        est = (
            prefix.groupBy("token")
            .agg(F.count(F.lit(1)).alias("_pdf"))
            .agg(F.sum(F.col("_pdf") * (F.col("_pdf") - 1) / 2).alias("_e"))
            .collect()[0]["_e"]
        )
        if est is not None and est > max_candidate_fanout:
            raise RuntimeError(
                f"jaccard_pairs: prefix-filter candidate fan-out ~{int(est):,} "
                f"exceeds max_candidate_fanout={max_candidate_fanout:,} — the "
                "exact PPJoin kernel is pair-density quadratic at this scale. "
                "Use the banding-bounded MinHash sibling (minhash_lsh_pairs / "
                "the ngram_minhash recipe), raise `threshold`, prune hot "
                "tokens with `max_df`, or pass max_candidate_fanout=None to "
                "force the dense run."
            )
    a = prefix.select(
        F.col("_rep").alias("rep_a"), "token", F.col("_pos").alias("pos_a"), F.col("n").alias("sz_a")
    )
    b = prefix.select(
        F.col("_rep").alias("rep_b"), "token", F.col("_pos").alias("pos_b"), F.col("n").alias("sz_b")
    )
    # PPJoin filters, all lossless for J >= t:
    # - size ratio (per match row): J <= min/max sizes, so min >= ceil(t*max);
    # - ACCUMULATED positional bound (per pair, at the dedup aggregation —
    #   the same shuffle the old `.distinct()` paid): under the global token
    #   order both prefixes are sorted, so every shared token ordered before
    #   the LAST shared-prefix match sits inside both prefixes and is counted
    #   in `c`; the remaining overlap past that match is bounded by
    #   min(suffix lengths). Hence overlap <= c + min(sz_a - max(pos_a),
    #   sz_b - max(pos_b)) — strictly tighter than the old per-token
    #   1 + min(suffixes) test (which only used the first match), and J >= t
    #   still requires overlap >= ceil(t/(1+t) * (n_a+n_b)).
    # On a high-df shingle corpus the per-row filters cut candidates ~5x
    # (8.2M -> 1.5M at sf0.1); the accumulated bound prunes a further slice
    # of pairs before any token array is shipped to verification (guide §3).
    candidates = (
        a.join(b, "token")
        .filter(F.col("rep_a") < F.col("rep_b"))
        .filter(F.least("sz_a", "sz_b") >= _ceil_bound(F.lit(threshold) * F.greatest("sz_a", "sz_b")))
        .groupBy("rep_a", "rep_b")
        .agg(
            F.count(F.lit(1)).alias("_c"),
            F.max("pos_a").alias("_pa"),
            F.max("pos_b").alias("_pb"),
            F.first("sz_a").alias("_sa"),
            F.first("sz_b").alias("_sb"),
        )
        .filter(
            F.col("_c") + F.least(F.col("_sa") - F.col("_pa"), F.col("_sb") - F.col("_pb"))
            >= _ceil_bound(F.lit(threshold / (1.0 + threshold)) * (F.col("_sa") + F.col("_sb")))
        )
        .select("rep_a", "rep_b")
    )
    # within a set group every pair is J=1 with identical stats; across
    # groups n_a/n_b swap with the id ordering
    n = F.col("mb._n")
    swap = F.col("ia") > F.col("ib")
    return _expand_pairs(
        members,
        _verify_jaccard(candidates, sets, threshold),
        [n.alias("shared"), n.alias("n_a"), n.alias("n_b"), F.lit(1.0).alias("jaccard")],
        [
            "shared",
            F.when(swap, F.col("n_b")).otherwise(F.col("n_a")).alias("n_a"),
            F.when(swap, F.col("n_a")).otherwise(F.col("n_b")).alias("n_b"),
            "jaccard",
        ],
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.5,
    tokens: str | None = None,
    token_num: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, verified with true Jaccard.

    shingle -> minhash -> band -> bucket-join -> verify. Candidates come from
    any band collision at the threshold-dependent ``banding_for(threshold)``
    profile (signatures are always the full ``N_HASHES`` wide here; low
    bandings just consume a prefix of the columns); each candidate pair is
    then checked against the exact token-set Jaccard so the output has no
    false positives.

    Verification is candidate-local: each candidate pair fetches the two docs'
    token sets (two id-keyed joins) and intersects them with array_intersect —
    cost O(|candidates| x doc_len), never the corpus-wide inverted-index join
    (which is exactly what LSH exists to avoid at scale).

    **Identical-set collapse**: MinHash signatures are a pure function of the
    token *set*, so docs with identical sets always collide in every band and
    verify at J=1. The pipeline therefore canonicalizes first — group docs by
    sorted-distinct token array, run signature/banding/verification over the
    DISTINCT SETS only, then expand set-level results back to doc pairs
    (within-group pairs at J=1, cross-group pairs as the group cross product).
    Output is bit-identical to the naive per-doc pipeline, but the quadratic
    stages scale with distinct content, not raw doc count — on web corpora
    (and the synthetic testdata) exact-content duplication is rampant, and
    this is the difference between buckets of O(distinct) and O(corpus).

    The member/set/signature tables are persisted AND materialized eagerly
    (count() after persist): the final plan references them from 4+ self-join
    branches, and a lazily-persisted cache is populated on demand by whichever
    stage touches it first — concurrent branches of one job race and duplicate
    the tokenize+hash work (measured 4x wall-clock on the sf0.1 corpus). On a
    cluster you would land signatures to storage between stages; eager
    MEMORY_AND_DISK materialization is the local analogue.

    ``tokens`` overrides the word tokenizer with any array<string> SQL expr —
    passing ``text.shingles_expr(norm_col, n)`` turns this into the
    sub-quadratic n-gram near-dup path (the exact PPJoin in
    ngram_jaccard_pairs is the exact baseline; high-df shingles weaken its
    prefix filter, while MinHash cost is banding-bounded regardless of df).
    Output: (id_a, id_b, jaccard).
    """
    members, sets = _collapse_sets(df, id_col, text_col, tokens)
    sigs = _minhash_signatures(sets, token_num, N_HASHES).persist(StorageLevel.MEMORY_AND_DISK)
    sigs.count()
    candidates = _band_collisions(_bands_of(sigs, *banding_for(threshold)), ["band", "bh"], "rep").distinct()
    return _expand_pairs(
        members, _verify_jaccard(candidates, sets, threshold), [F.lit(1.0).alias("jaccard")], ["jaccard"]
    )


def _single_task_labels(und: DataFrame, id_type) -> DataFrame:
    """Connected-component labels computed in ONE Spark task.

    The canonical edge set is *metadata* — two ids per row, a few bytes each
    — exactly the "decide with small rows" shape of the optimization guide's
    worked example: when the whole decision table fits comfortably in a
    single task (the same size judgment a broadcast join makes), the
    round-per-hop distributed loops are pure overhead. `coalesce(1)` is a
    narrow dependency (no shuffle); the task streams the edge batches
    through a union-find with path halving + union-by-size and emits
    (node, label = min id of the component) for every non-singleton node —
    bounded by 2|E| rows, so the result is broadcast-safe by construction.
    Deterministic: the representative is a pure min over the component
    (Python's str ordering is code-point order == Spark's UTF8 binary
    ordering, and numeric ids compare identically), so the output is
    bit-identical to the star route.
    """
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("node", id_type), T.StructField("label", id_type)]
    )

    def cc(batches):
        import pandas as pd

        parent: dict = {}
        size: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for a, b in zip(pdf["id_a"].tolist(), pdf["id_b"].tolist()):
                for v in (a, b):
                    if v not in parent:
                        parent[v] = v
                        size[v] = 1
                ra, rb = find(a), find(b)
                if ra != rb:
                    if size[ra] < size[rb]:
                        ra, rb = rb, ra
                    parent[rb] = ra
                    size[ra] += size[rb]
        if not parent:
            return
        rep: dict = {}
        nodes = list(parent)
        roots = [find(v) for v in nodes]
        for v, r in zip(nodes, roots):
            cur = rep.get(r)
            if cur is None or v < cur:
                rep[r] = v
        yield pd.DataFrame({"node": nodes, "label": [rep[r] for r in roots]})

    return und.coalesce(1).mapInPandas(cc, schema)


# Edge count at or below which keep_representatives solves the graph in one
# task: tens of MB of id pairs, the same size judgment a broadcast join makes.
_CC_SINGLE_TASK_EDGES = 2_000_000


def keep_representatives(df: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """Cluster/keep-list output for the dedup family: (doc_id, rep_id) where
    rep_id = the minimum doc id in the document's near-duplicate connected
    component (singletons keep themselves).

    This is the shape a training pipeline actually consumes — ``keep rows
    WHERE doc_id = rep_id`` — and sidesteps the pair list's quadratic output
    on duplicate-heavy groups (a g-duplicate group emits C(g,2) pairs but only
    g assignment rows here).

    Two routes, picked by the size of the canonical edge set (materialized
    once by a lazy checkpoint, so the routing count is the job that builds
    it and neither route forces ``pairs`` — often an LSH join — again):

    - at or below ``_CC_SINGLE_TASK_EDGES`` edges, :func:`_single_task_labels`
      runs a union-find over the metadata-sized edge list in ONE task (zero
      per-round shuffles);
    - above it, :func:`_star_keep` runs the large-star/small-star
      alternation (Kiveris et al., SoCC'14), whose per-round edge set
      shrinks and whose hub neighborhoods split across reducers.

    Both return the pure min over the component, so the routing is invisible
    to callers and oracles.
    """
    und = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("id_a"), F.least("id_a", "id_b").alias("id_b")
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    und_n = und.count()
    if und_n > _CC_SINGLE_TASK_EDGES:
        return _star_keep(
            df, id_col, und.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        )
    from pyspark.sql.types import NumericType

    id_type = df.schema[id_col].dataType
    labels = _single_task_labels(und, id_type)
    # broadcast judgement in BYTES, not rows (ADVICE r17): the label table is
    # bounded by 2x the edge threshold (up to ~4M rows at 2M edges). Numeric
    # ids are 16 B/row (<= ~64 MB, safely inside a broadcast); wide string
    # doc ids at the threshold boundary could reach hundreds of MB, so only
    # force the hint below 500k edges and otherwise let the planner's own
    # size estimate decide.
    if isinstance(id_type, NumericType) or und_n <= 500_000:
        labels = F.broadcast(labels)
    nodes = df.select(F.col(id_col).alias("node")).distinct()
    return nodes.join(labels, "node", "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce("label", "node").alias("rep_id"),
    )


def keep_representatives_star(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    max_iter: int = 50,
) -> DataFrame:
    """Large-star / small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the route
    :func:`keep_representatives` takes above its single-task bound, here
    forced at every graph size, with the identical output contract: (doc_id,
    rep_id = min id in the component).

    Why the distributed route is the star alternation: it provably SHRINKS
    the edge set toward a star forest (O(log^2 n) rounds worst case, 2-4
    observed) and large-star splits hub neighborhoods by the strictly-greater
    filter, so skew decays with the edge set — the shape that survives a
    100-TB dup graph with celebrity-document hubs. A label-propagation loop
    would instead shuffle the FULL edge list every round and land a hub's
    whole neighborhood in one reduce group.

    large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u.
    small-star(u): over edges oriented (u, v<u): m = min(N_<(u)); emit
    (v, m) for v ∈ N_<(u) ∪ {u}. Alternate to fixed point (edge multiset
    stable), each phase two shuffles (groupBy min + re-join), self-loops
    dropped, localCheckpoint per round to keep lineage flat (each round
    reads the previous edge set twice, so without truncation the plan
    doubles per round and its re-analysis goes exponential; on a cluster use
    a reliable checkpoint dir). Deterministic, engine-portable.
    """
    # canonical undirected edge set (big, small), no self-loops
    edges = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    return _star_keep(df, id_col, edges, max_iter=max_iter)


def _star_keep(
    df: DataFrame,
    id_col: str,
    edges: DataFrame,
    max_iter: int = 50,
) -> DataFrame:
    """Star-alternation core over an ALREADY-canonical (u > v, distinct,
    checkpointed) edge set — shared by :func:`keep_representatives_star` and
    the large-graph route of :func:`keep_representatives`, which has the
    canonical set in hand from its routing count and must not pay a second
    distinct+checkpoint of the full edge list to enter this route."""
    nodes = df.select(F.col(id_col).alias("node")).distinct()
    prev_sig = None
    for _ in range(max_iter):
        # -- large-star: group the BIDIRECTIONAL neighborhood of u ----------
        b = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = b.groupBy("u").agg(F.min("v").alias("mn"))
        # m = min(N(u) ∪ {u}) — mn is min over neighbors, fold in u itself
        ls = (
            b.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(
                F.col("v").alias("u"),
                F.least("mn", F.col("u")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star: edges already oriented (u > v); m = min smaller nbr -
        smins = ls.groupBy("u").agg(F.min("v").alias("mn"))
        sm = ls.join(smins, "u")
        star = (
            sm.select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .unionByName(sm.select("u", F.col("mn").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # convergence: the edge multiset is stable (order-free signature).
        # The signature collect is the action that materializes the lazy
        # checkpoint above — one job per round instead of two.
        sig = star.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        edges = star
        if prev_sig == (sig["n"], sig["h"]):
            break
        prev_sig = (sig["n"], sig["h"])
    else:
        raise RuntimeError(
            f"keep_representatives_star did not converge in {max_iter} rounds"
        )
    # fixed point is a star forest: every edge (u, v) has v = component min.
    # groupBy-min instead of assuming one edge per node — robust to a stop on
    # the signature check one round early.
    labels = edges.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("label"))
    return (
        nodes.join(labels, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce("label", "node").alias("rep_id"),
        )
    )


def simhash_values(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """32-bit SimHash per document (column `simhash`).

    Bit j of the fingerprint = sign of sum over tokens of (+1 if bit j of
    token-hash set else -1). Same aggregation shape as MinHash.
    """
    tok = doc_tokens(df, id_col, text_col).withColumn("tn", F.expr(_token_num()))
    aggs = [
        F.sum(F.expr(f"CASE WHEN (shiftright(tn, {j}) & 1) = 1 THEN 1 ELSE -1 END")).alias(f"s_{j}")
        for j in range(SIMHASH_BITS)
    ]
    sums = tok.groupBy(id_col).agg(*aggs)
    value = " + ".join(f"CASE WHEN s_{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END" for j in range(SIMHASH_BITS))
    return sums.select(F.col(id_col), F.expr(value).alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash_a, simhash_b) <= max_hamming.

    Blocking: split the 32 bits into ``max(4, max_hamming + 1)`` bands; by
    pigeonhole any pair within Hamming distance ``n_bands - 1`` shares at
    least one exact band — so recall is COMPLETE for the requested distance
    (a fixed 4-byte split silently dropped pairs at distance 4-6 whose four
    bytes all differed). Candidates collide on (band_idx, band_value), then
    verify by exact bit_count. Avoids the n^2 cross join at scale; more bands
    = more candidate rows, the price of completeness at larger distances.
    Pairing depends only on the
    fingerprint VALUE, so (exactly like the MinHash identical-set collapse)
    the band self-join and its pair-dedup run over DISTINCT fingerprints
    only; doc pairs are expanded afterwards — within a fingerprint group
    every pair is Hamming 0, across groups the group cross product inherits
    the value-level distance. Quadratic stages scale with distinct content,
    not corpus size. The per-value tables are persisted and materialized
    eagerly — the band self-join references them 8x, and a lazily-populated
    cache lets concurrent branches of the one job race and recompute the
    tokenize+hash scan per branch.
    """
    if not 0 <= max_hamming < SIMHASH_BITS:
        raise ValueError(f"max_hamming must be in [0, {SIMHASH_BITS}), got {max_hamming}")
    sh = simhash_values(df, id_col, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    sh.count()
    vals = sh.select("simhash").distinct().persist(StorageLevel.MEMORY_AND_DISK)
    vals.count()
    n_bands = max(4, max_hamming + 1)
    base, extra = divmod(SIMHASH_BITS, n_bands)
    widths = [base + (1 if i < extra else 0) for i in range(n_bands)]
    bands = None
    offset = 0
    for k, width in enumerate(widths):
        part = vals.select(
            F.lit(k).alias("band"),
            F.expr(f"(shiftright(simhash, {offset}) & {(1 << width) - 1})").alias("bv"),
            F.col("simhash"),
        )
        bands = part if bands is None else bands.unionByName(part)
        offset += width
    val_pairs = (
        _band_collisions(bands, ["band", "bv"], "simhash")
        .select(
            F.col("simhash_a").alias("rep_a"),
            F.col("simhash_b").alias("rep_b"),
            F.expr("bit_count(simhash_a ^ simhash_b)").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    val_pairs.count()
    # same fingerprint -> Hamming 0 (always <= max_hamming >= 0)
    members = sh.select(F.col(id_col).alias("_id"), F.col("simhash").alias("_rep"))
    return _expand_pairs(members, val_pairs, [F.lit(0).alias("hamming")], ["hamming"])


# ---------------------------------------------------------------------------
# Incremental dedup: signature index + new-batch-only pass
# ---------------------------------------------------------------------------


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    tokens: str | None = None,
    token_num: str | None = None,
    n_hashes: int = N_HASHES,
) -> tuple[DataFrame, DataFrame]:
    """Build the persistent signature index for INCREMENTAL dedup:
    ``(sets, membership)`` where ``sets`` has one row per distinct token set
    — ``(_rep, _toks, m_0..m_{n_hashes-1})`` — and ``membership`` maps
    ``(_id, _rep)``.

    ``n_hashes`` is a BUILD parameter (default: the full ``N_HASHES``-wide
    signature): an index only needs ``bands * rows_per_band`` columns for the
    banding it will be queried with, and narrower signatures are
    proportionally cheaper to build (the 64-hash default exists for the
    sharp 4x16 high-threshold banding; a 2x8 profile needs only 16). The
    width is part of the stored index FORMAT — ``minhash_incremental_pairs``
    validates that the index it is handed is wide enough for the requested
    banding and raises on mismatch rather than silently mis-bucketing (a
    persisted index from an older 16-wide build is NOT compatible with
    bandings that consume more columns).

    At 100 TB the corpus is hashed ONCE and these two relations land to
    storage (parquet/Delta, bucketed by band hash if desired); every new
    crawl batch then pays only its own tokenize+hash and a bucket join
    against the index (minhash_incremental_pairs) instead of re-deduping the
    world. Same collapse/banding machinery as minhash_lsh_pairs, so a pair
    (new doc, indexed doc) surfaces iff the full-corpus pipeline would
    surface it.
    """
    members, sets = _collapse_sets(df, id_col, text_col, tokens)
    indexed = sets.select("_rep", "_toks").join(_minhash_signatures(sets, token_num, n_hashes), "_rep")
    indexed = indexed.persist(StorageLevel.MEMORY_AND_DISK)
    indexed.count()
    return indexed, members.select("_id", "_rep")


def minhash_incremental_pairs(
    index: tuple[DataFrame, DataFrame],
    new_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.5,
    tokens: str | None = None,
    token_num: str | None = None,
    banding: tuple[int, int] | None = None,
) -> DataFrame:
    """Incremental near-dup pairs: every (id_a, id_b, jaccard) with
    jaccard >= threshold where AT LEAST ONE side is a new-batch document —
    old-vs-old pairs are the previous runs' output and are never recomputed.

    Only the new batch is tokenized and hashed; candidates come from the
    new side's band rows equi-joined against (index bands UNION new bands),
    so cost scales with |new| and collision volume, never |corpus|.
    Verification stays candidate-local over the stored token sets. Output is
    exactly a full-corpus minhash_lsh_pairs run AT THE SAME BANDING filtered
    to pairs touching the new batch (same signatures, same banding, same
    exact verification).

    ``banding`` overrides ``banding_for(threshold)`` — the incremental path
    often wants a cheaper profile than the full-corpus default: e.g. 2x8 at
    threshold 0.95 has the same S-curve midpoint as the sharp 4x16 default
    ((1/2)^(1/8) = (1/4)^(1/16) = 0.917) with a 4x narrower signature; the
    4x16 sharpening pays off on heavy-overlap shingle corpora, not on
    word-token incremental batches. The index must have been built with
    ``n_hashes >= bands * rows_per_band`` — validated here (a narrower
    stored index raises instead of silently mis-bucketing).
    """
    old_sets, old_mem = index
    n_bands, rows_per_band = banding or banding_for(threshold)
    needed = n_bands * rows_per_band
    have = sum(1 for c in old_sets.columns if c.startswith("m_"))
    if have < needed:
        raise ValueError(
            f"stored minhash index has {have} signature columns but banding "
            f"{n_bands}x{rows_per_band} needs {needed} — rebuild the index with "
            f"n_hashes>={needed} (signature width is part of the index format)"
        )
    new_sets, new_mem = minhash_index(
        new_df, id_col, text_col, tokens, token_num, n_hashes=needed
    )

    candidates = _band_collisions(
        _bands_of(new_sets, n_bands, rows_per_band),
        ["band", "bh"],
        "rep",
        index=_bands_of(old_sets, n_bands, rows_per_band),
    ).distinct()
    all_sets = old_sets.select("_rep", "_toks").unionByName(new_sets.select("_rep", "_toks"))
    set_pairs = _verify_jaccard(candidates, all_sets, threshold)
    all_mem = old_mem.withColumn("_new", F.lit(False)).unionByName(
        new_mem.withColumn("_new", F.lit(True))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    all_mem.count()
    # A new doc with a set already indexed lives under the NEW rep too (reps
    # are per-build), so identical sets across builds meet as a rep pair at
    # J=1 via banding (equal signatures collide in every band); within one
    # build's rep group the membership cross product covers it.
    return _expand_pairs(
        all_mem, set_pairs, [F.lit(1.0).alias("jaccard")], ["jaccard"], touching="_new"
    ).distinct()


def substring_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 16,
) -> DataFrame:
    """Persistent ExactSubstr window-hash index: the (g1, g2, c) count
    relation of every ``min_tokens``-token window in the corpus — the
    at-rest fingerprint an incremental pass dedups new batches against
    (the dedup-family analogue of minhash_index; Lee et al. 2022 semantics
    carried by counts, no positions stored, so index size is bounded by
    DISTINCT window content, not corpus length)."""
    from pyspark import StorageLevel

    grams = _gram_relation(df, id_col, text_col, min_tokens)
    idx = grams.groupBy("g1", "g2").agg(F.count(F.lit(1)).alias("c"))
    idx = idx.persist(StorageLevel.MEMORY_AND_DISK)
    idx.count()
    return idx


def substring_incremental_spans(
    index: DataFrame,
    new_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 16,
) -> DataFrame:
    """Incremental ExactSubstr: dup spans in the NEW batch only — a new
    window is duplicated iff it already exists in the indexed corpus
    (c >= 1) OR repeats within the batch (new count >= 2). EXACTLY the
    full-corpus dup_spans run restricted to new documents: total count
    c_old + c_new >= 2 <=> c_old >= 1 or c_new >= 2. The standard
    crawl-increment policy follows: each new batch is cleaned against the
    accumulated corpus; already-ingested documents are not re-opened (the
    count index keeps no positions — old-side spans would need them).

    Cost scales with |new batch| + the equi-join against the index — never
    with corpus length. Combine with ``substring_index_append`` to roll the
    index forward after the batch is admitted."""
    n = min_tokens
    grams = _gram_relation(new_df, id_col, text_col, n)
    new_dups = (
        grams.groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).alias("_nc"))
        .filter(F.col("_nc") >= 2)
        .select("g1", "g2")
    )
    in_index = index.select("g1", "g2")
    dup_keys = new_dups.unionByName(in_index).distinct()
    seeds = grams.join(dup_keys, ["g1", "g2"]).select("_id", "pos")
    return _merge_islands(seeds, n, id_col)


def substring_index_append(
    index: DataFrame,
    new_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 16,
) -> DataFrame:
    """Roll the window-hash index forward with an admitted batch: summed
    counts, one groupBy — the result equals substring_index over the
    concatenated corpus (count addition is associative)."""
    add = _gram_relation(new_df, id_col, text_col, min_tokens).groupBy(
        "g1", "g2"
    ).agg(F.count(F.lit(1)).alias("c"))
    return (
        index.unionByName(add)
        .groupBy("g1", "g2")
        .agg(F.sum("c").alias("c"))
    )
