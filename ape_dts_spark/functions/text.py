"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure JVM-side column expressions (whole-stage codegen, no
Python in the hot path) and — deliberately — *engine-portable*: the same
computation is expressible in ANSI-ish SQL (DuckDB) so every operator has an
exact cross-engine oracle. The portable primitive is a 31-polynomial rolling
hash mod 2^31-1 over ASCII codes (`PORTABLE_HASH_P`), used for fingerprints,
MinHash and SimHash (functions/dedup.py).

Scale notes: everything here is embarrassingly parallel per document — no
shuffle at all until an aggregation/join downstream; at 100 TB the cost is the
parquet scan, which prunes to the `text` column only.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

PORTABLE_HASH_P = 2_147_483_647  # 2^31 - 1

# languages for the n-gram/stopword language-ID heuristic, in priority order
STOPWORDS = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "es": ("el", "la", "de", "que", "y", "los", "es", "un"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "de", "et", "les", "des", "est", "une"),
}


def tokens_expr(col: str = "text") -> str:
    """SQL expr: lowercase ASCII word tokens of a text column."""
    return (
        f"filter(split(lower(regexp_replace({col}, '[^ -~]', '')), '[^a-z0-9]+'), x -> x <> '')"
    )


def tokens_sql(col: str = "text") -> str:
    """DuckDB twin of tokens_expr (regexp_replace needs the 'g' flag there)."""
    return (
        f"list_filter(regexp_split_to_array(lower(regexp_replace({col}, '[^ -~]', '', 'g')), "
        f"'[^a-z0-9]+'), x -> x <> '')"
    )


def norm_text_expr(col: str = "text") -> str:
    """SQL expr: shingling normalization — ASCII-only, lowercase, punct/space
    runs collapsed to one space, trimmed. Materialize this once (withColumn)
    before shingling; referencing it inside a per-shingle lambda would
    re-evaluate the regexes per character position."""
    return (
        f"trim(regexp_replace(lower(regexp_replace({col}, '[^ -~]', '')), '[^a-z0-9]+', ' '))"
    )


def norm_text_sql(col: str = "text") -> str:
    """DuckDB twin of norm_text_expr (regexp_replace needs the 'g' flag)."""
    return (
        f"trim(regexp_replace(lower(regexp_replace({col}, '[^ -~]', '', 'g')), "
        f"'[^a-z0-9]+', ' ', 'g'))"
    )


def shingles_expr(col: str, n: int = 5) -> str:
    """SQL expr: all character n-grams of an (already normalized) column.

    `sequence(1, stop)` is guarded — Spark's sequence() counts DOWN when
    stop < start, so a short string would otherwise yield bogus indexes."""
    return (
        f"CASE WHEN length({col}) < {n} THEN array() "
        f"ELSE transform(sequence(1, length({col}) - {n} + 1), i -> substring({col}, i, {n})) END"
    )


def shingles_sql(col: str, n: int = 5) -> str:
    """DuckDB twin: range(a, b) is end-exclusive, substr is 1-based like
    Spark's substring."""
    return (
        f"CASE WHEN length({col}) < {n} THEN [] "
        f"ELSE list_transform(range(1, length({col}) - {n} + 2), i -> substr({col}, i, {n})) END"
    )


def char_fold_expr(s: str, n: int) -> str:
    """portable_hash_expr of an EXACTLY-n-char string as flat scalar ops:
    the same (acc*31 + code) % p fold, unrolled over substring/ascii calls
    instead of split('') + transform + aggregate — identical value for any
    input (the mod is applied per step), with no per-character array
    allocations. Used where the shingle width is statically known.

    The seed is CAST to BIGINT so the whole unrolled chain is 64-bit, like
    the 0L accumulator of the aggregate() it replaces: with INT arithmetic
    the pre-mod intermediate reaches code*31^(n-1), which overflows int32
    for codepoints >= ~2326 at n=5 (all CJK) — an ANSI ARITHMETIC_OVERFLOW
    at runtime on multilingual corpora."""
    expr = f"CAST(ascii(substring({s}, 1, 1)) AS BIGINT)"
    for i in range(2, n + 1):
        expr = (
            f"(({expr}) * 31 + ascii(substring({s}, {i}, 1))) % {PORTABLE_HASH_P}"
        )
    return expr


def hashed_shingles_expr(col: str, n: int = 5) -> str:
    """SQL expr: character n-grams of `col` hashed to BIGINT with the
    31-polynomial portable hash — the MMDS-standard shingle representation
    (hash shingles to ints, then treat the int set as the document). All
    downstream set ops (sort/distinct/group/join/intersect) run on fixed-width
    ints instead of n-char strings: measured 97 s -> 18 s on the sf0.1 exact
    n-gram Jaccard, where candidate verification intersects ~150-element
    arrays across 1.5M candidate pairs. Collisions (rare at 2^31) fold two
    shingles into one id; the DuckDB twin hashes identically, so cross-engine
    results stay bit-exact."""
    return (
        f"transform({shingles_expr(col, n)}, s -> CAST({char_fold_expr('s', n)} AS BIGINT))"
    )


def hashed_shingles_sql(col: str, n: int = 5) -> str:
    """DuckDB twin of hashed_shingles_expr (shingles are non-empty, so the
    seedless list_reduce equals the 0-seeded fold)."""
    return (
        f"list_transform({shingles_sql(col, n)}, s -> "
        f"list_reduce(list_transform(string_split(s, ''), ch -> ascii(ch)), "
        f"(acc, c) -> (CAST(acc AS BIGINT) * 31 + c) % {PORTABLE_HASH_P}))"
    )


def portable_hash_expr(s: str) -> str:
    """SQL expr: 31-polynomial hash mod 2^31-1 of string expr `s` (Spark side).

    Single-pass: split to a char array once, fold once — `s` is evaluated one
    time even when it is itself an expensive expression (a per-character
    substring() formulation would re-evaluate `s` per char: O(n^2))."""
    return (
        f"aggregate(transform(split({s}, ''), ch -> ascii(ch)), "
        f"0L, (acc, c) -> (acc * 31 + c) % {PORTABLE_HASH_P})"
    )


def portable_hash_sql(s: str) -> str:
    """DuckDB twin: list_reduce seeds with the first element, which equals the
    0-seeded fold since 0*31+c1 = c1; empty string guarded to 0."""
    return (
        f"CASE WHEN length({s}) = 0 THEN 0 ELSE "
        f"list_reduce(list_transform(string_split({s}, ''), ch -> ascii(ch)), "
        f"(acc, c) -> (CAST(acc AS BIGINT) * 31 + c) % {PORTABLE_HASH_P}) END"
    )


# BPE-ish piece pattern over ASCII-stripped lowercase text: letter runs,
# single digits (BPE tokenizers split numbers), punctuation runs. ASCII
# stripping ('[^ -~]') removes \t and \n, so plain ' ' is the only whitespace
# left and the pattern needs no escape classes (portable to RE2).
BPE_PIECE_RE = "[a-z]+|[0-9]|[^a-z0-9 ]+"


def token_stats_exprs(col: str = "text") -> dict[str, str]:
    """SQL exprs: whitespace-, word- and BPE-ish-piece token counts.
    All single-pass JVM expressions — the token-counting surface a training
    pipeline budgets documents with."""
    ascii_lower = f"lower(regexp_replace({col}, '[^ -~]', ''))"
    return {
        "n_ws": f"size(filter(split({ascii_lower}, ' +'), x -> x <> ''))",
        "n_words": f"size({tokens_expr(col)})",
        "n_bpe": f"size(regexp_extract_all({ascii_lower}, '{BPE_PIECE_RE}', 0))",
    }


def token_stats_sql_exprs(col: str = "text") -> dict[str, str]:
    """DuckDB twins of token_stats_exprs."""
    ascii_lower = f"lower(regexp_replace({col}, '[^ -~]', '', 'g'))"
    return {
        "n_ws": f"len(list_filter(regexp_split_to_array({ascii_lower}, ' +'), x -> x <> ''))",
        "n_words": f"len({tokens_sql(col)})",
        "n_bpe": f"len(regexp_extract_all({ascii_lower}, '{BPE_PIECE_RE}', 0))",
    }


def _stopword_score(tokens: str, words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"size(filter({tokens}, x -> x IN ({inlist})))"


def lang_id_expr(col: str = "text") -> str:
    """SQL expr: heuristic language ID via stopword hit counts, deterministic
    priority en > es > de > fr, 'unknown' when nothing matches."""
    t = tokens_expr(col)
    scores = {lang: _stopword_score(t, ws) for lang, ws in STOPWORDS.items()}
    cases = []
    langs = list(STOPWORDS)
    for i, lang in enumerate(langs):
        conds = [f"{scores[lang]} >= {scores[other]}" for other in langs[i + 1 :]]
        conds.append(f"{scores[lang]} > 0")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(cases) + " ELSE 'unknown' END"


def lang_id_sql(col: str = "text") -> str:
    t = tokens_sql(col)
    scores = {
        lang: f"len(list_filter({t}, x -> x IN ({', '.join(repr(w) for w in ws)})))"
        for lang, ws in STOPWORDS.items()
    }
    cases = []
    langs = list(STOPWORDS)
    for i, lang in enumerate(langs):
        conds = [f"{scores[lang]} >= {scores[other]}" for other in langs[i + 1 :]]
        conds.append(f"{scores[lang]} > 0")
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(cases) + " ELSE 'unknown' END"


def quality_exprs(col: str = "text") -> dict[str, str]:
    """Quality-scoring signals as SQL exprs (Spark dialect):
    token count, alpha ratio, stopword ratio, mean token length, composite score.
    All divisions are double/double on identical operands -> bit-identical
    across engines."""
    t = tokens_expr(col)
    all_stop = tuple(w for ws in STOPWORDS.values() for w in ws)
    n_tok = f"size({t})"
    stop_hits = _stopword_score(t, all_stop)
    return {
        "n_tokens": n_tok,
        "alpha_ratio": (
            f"CAST(length(regexp_replace({col}, '[^a-zA-Z]', '')) AS DOUBLE) / "
            f"CAST(greatest(length({col}), 1) AS DOUBLE)"
        ),
        "stopword_ratio": f"CAST({stop_hits} AS DOUBLE) / CAST(greatest({n_tok}, 1) AS DOUBLE)",
        "mean_token_len": (
            f"CAST(aggregate({t}, 0, (acc, x) -> acc + length(x)) AS DOUBLE) / "
            f"CAST(greatest({n_tok}, 1) AS DOUBLE)"
        ),
    }


def quality_sql_exprs(col: str = "text") -> dict[str, str]:
    t = tokens_sql(col)
    all_stop = tuple(w for ws in STOPWORDS.values() for w in ws)
    n_tok = f"len({t})"
    inlist = ", ".join(repr(w) for w in all_stop)
    stop_hits = f"len(list_filter({t}, x -> x IN ({inlist})))"
    return {
        "n_tokens": n_tok,
        "alpha_ratio": (
            f"CAST(length(regexp_replace({col}, '[^a-zA-Z]', '', 'g')) AS DOUBLE) / "
            f"CAST(greatest(length({col}), 1) AS DOUBLE)"
        ),
        "stopword_ratio": f"CAST({stop_hits} AS DOUBLE) / CAST(greatest({n_tok}, 1) AS DOUBLE)",
        "mean_token_len": (
            f"CAST(list_sum(list_transform({t}, x -> length(x))) AS DOUBLE) / "
            f"CAST(greatest({n_tok}, 1) AS DOUBLE)"
        ),
    }


QUALITY_SCORE = "0.4 * stopword_ratio + 0.3 * least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) + 0.3 * alpha_ratio"


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

# Patterns restricted to syntax Java regex and RE2 (DuckDB) agree on: no
# backreferences, no lookaround, and — crucially — no backslashes: Spark SQL
# string literals eat single backslashes while DuckDB's don't, so metachars
# are neutralized with character classes ([.], [+]) that read identically as
# SQL literals in both dialects. Order matters for redaction: emails first
# (their local part can contain digits a later pass would misread), then IPs
# (dotted quads would otherwise partially match the phone pattern), then
# phone numbers.
PII_PATTERNS = {
    "email": "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-zA-Z]{2,}",
    "ipv4": "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}",
    "phone": "[+][0-9]{1,3}-[0-9]{3}-[0-9]{3,4}(-[0-9]{3,4})?",
}


def pii_exprs(col: str = "text") -> dict[str, str]:
    """SQL exprs (Spark dialect): per-kind PII match counts plus the fully
    redacted text. Pure JVM regex — single pass per pattern, no shuffle; at
    100 TB this is scan-bound and embarrassingly parallel per document."""
    out: dict[str, str] = {}
    red = col
    for kind, pat in PII_PATTERNS.items():
        out[f"n_{kind}"] = f"size(regexp_extract_all({red}, '{pat}', 0))"
        red = f"regexp_replace({red}, '{pat}', '<{kind.upper()}>')"
    out["redacted"] = red
    return out


def pii_sql_exprs(col: str = "text") -> dict[str, str]:
    """DuckDB twins (regexp_replace needs the 'g' flag; counts via
    regexp_extract_all like Spark)."""
    out: dict[str, str] = {}
    red = col
    for kind, pat in PII_PATTERNS.items():
        out[f"n_{kind}"] = f"len(regexp_extract_all({red}, '{pat}', 0))"
        red = f"regexp_replace({red}, '{pat}', '<{kind.upper()}>', 'g')"
    out["redacted"] = red
    return out


def repetition_stats(df: DataFrame, id_col: str = "doc_id", col: str = "text") -> DataFrame:
    """Gopher-style repetition signals per document: token count, distinct
    token count, duplicate-token ratio, and the most-frequent token's share.

    Plan shape: explode -> two hash aggregations (doc+token, then doc). Both
    aggs partial-aggregate map-side; the shuffle key is (doc, token) then doc,
    so the stage parallelism scales with corpus size and no state ever exceeds
    one document's vocabulary. The ratios divide identical BIGINT operands as
    DOUBLE on both engines -> bit-identical."""
    toks = df.select(F.col(id_col), F.explode(F.expr(tokens_expr(col))).alias("tok"))
    per_tok = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("cnt"))
    return per_tok.groupBy(id_col).agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.expr(
            "CAST(sum(cnt) - count(1) AS DOUBLE) / CAST(greatest(sum(cnt), 1) AS DOUBLE)"
        ).alias("dup_ratio"),
        F.expr("CAST(max(cnt) AS DOUBLE) / CAST(greatest(sum(cnt), 1) AS DOUBLE)").alias(
            "top_share"
        ),
    )


def repetition_stats_sql(id_col: str = "doc_id", col: str = "text") -> str:
    """DuckDB twin of repetition_stats (documents table)."""
    return f"""
WITH toks AS (
  SELECT {id_col}, unnest({tokens_sql(col)}) AS tok FROM documents),
per_tok AS (
  SELECT {id_col}, tok, COUNT(*) AS cnt FROM toks GROUP BY {id_col}, tok)
SELECT {id_col},
       CAST(SUM(cnt) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_distinct,
       CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / CAST(GREATEST(SUM(cnt), 1) AS DOUBLE) AS dup_ratio,
       CAST(MAX(cnt) AS DOUBLE) / CAST(GREATEST(SUM(cnt), 1) AS DOUBLE) AS top_share
FROM per_tok GROUP BY {id_col}
"""


def fingerprint_expr(col: str = "text") -> str:
    """Document fingerprint: rolling polynomial hash of the normalized text
    (whitespace-collapsed, ASCII-only, lowercased) — stable under incidental
    whitespace differences."""
    norm = f"trim(regexp_replace(lower(regexp_replace({col}, '[^ -~]', '')), '[ ]+', ' '))"
    return portable_hash_expr(norm)


def fingerprint_sql(col: str = "text") -> str:
    norm = (
        f"trim(regexp_replace(lower(regexp_replace({col}, '[^ -~]', '', 'g')), '[ ]+', ' ', 'g'))"
    )
    return portable_hash_sql(norm)


def _doc_grams(df: DataFrame, id_col: str, text_col: str, n: int, alias: str) -> DataFrame:
    """Distinct (id, word-n-gram) relation — shared by the exact and
    Bloom-pre-filtered decontamination passes, which must stay gram-for-gram
    identical (they share one oracle)."""
    g = (
        f"transform(sequence(1, size(_tk) - {n} + 1), "
        f"i -> array_join(slice(_tk, i, {n}), ' '))"
    )
    return (
        df.select(F.col(id_col).alias(alias), F.expr(tokens_expr(text_col)).alias("_tk"))
        .filter(F.size("_tk") >= n)  # sequence() counts down past this
        .select(alias, F.explode(F.expr(g)).alias("gram"))
        .distinct()
    )


def ngram_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark-contamination check: word n-gram overlap between a training
    corpus and an evaluation set — the standard decontamination pass in
    LLM data pipelines (flag training docs sharing long token runs with any
    benchmark document, then drop or audit them).

    Output: (train_id, eval_id, shared_grams, n_eval_grams, contamination)
    with contamination = shared / eval-doc distinct-gram count, one row per
    contaminated (train doc, eval doc) pair.

    Scale shape: the training corpus is scanned once into distinct
    (train_id, gram) rows — an inverted index over n-token runs, linear in
    corpus token count. The eval side is small by definition (a benchmark),
    so its gram relation and per-doc sizes are broadcast; the join is
    map-side and the only shuffle is the per-pair count aggregation, sized
    by actual collisions, not the corpus. No state ever exceeds one doc's
    grams.
    """

    t = _doc_grams(train, id_col, text_col, n, "train_id")
    e = _doc_grams(eval_df, id_col, text_col, n, "eval_id")
    e_sizes = e.groupBy("eval_id").agg(F.count(F.lit(1)).alias("n_eval_grams"))
    return (
        t.join(F.broadcast(e), "gram")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .join(F.broadcast(e_sizes), "eval_id")
        .select(
            "train_id",
            "eval_id",
            "shared_grams",
            "n_eval_grams",
            (F.col("shared_grams").cast("double") / F.col("n_eval_grams").cast("double")).alias(
                "contamination"
            ),
        )
    )


def ngram_overlap_bloom(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    n_bits: int = 1 << 22,
    n_hashes: int = 4,
) -> DataFrame:
    """ngram_overlap with a Bloom pre-filter on the training side — the
    decontamination shape for when the eval set's gram relation is too large
    to broadcast as a join table but its Bloom filter is not (bits ~ 10 bits
    per gram vs ~50 bytes per gram string; a 100M-gram eval set is a 125 MB
    bitmap vs a 5 GB broadcast relation).

    Output is IDENTICAL to ngram_overlap (same oracle): the Bloom filter
    only prunes training grams before the exact join, and its false
    positives are eliminated by that join. Bit positions are computed
    JVM-side (xxhash64 with per-hash seeds, pmod m) so the Arrow kernel is a
    pure vectorized numpy bitmap gather — no per-string Python hashing.

    Build: the eval positions are collected to the driver (a benchmark eval
    set is driver-small; at extreme sizes swap in a per-partition bitmap OR —
    mapInPandas emitting one bitmap row per partition, OR-reduced on the
    driver — without touching the filter side). The bitmap rides the task
    closure like the IVF centroids.
    """
    from pyspark.storagelevel import StorageLevel

    pos_cols = [
        F.pmod(F.xxhash64(F.col("gram"), F.lit(i)), F.lit(n_bits)).alias(f"_p{i}")
        for i in range(n_hashes)
    ]

    t = _doc_grams(train, id_col, text_col, n, "train_id")
    # the eval relation feeds three consumers (bitmap build, verify join,
    # per-doc sizes) — materialize its explode+distinct once
    e = _doc_grams(eval_df, id_col, text_col, n, "eval_id").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    e.count()

    bitmap = np.zeros(n_bits // 8 + 1, dtype=np.uint8)
    e_pos = e.select("gram").distinct().select(*pos_cols).collect()
    for r in e_pos:
        for i in range(n_hashes):
            p = r[f"_p{i}"]
            bitmap[p >> 3] |= 1 << (p & 7)

    def _pass_bloom(batches):
        for pdf in batches:
            keep = np.ones(len(pdf), dtype=bool)
            for i in range(n_hashes):
                p = pdf[f"_p{i}"].to_numpy()
                keep &= (bitmap[p >> 3] & (1 << (p & 7)).astype(np.uint8)) != 0
            yield pdf.loc[keep, ["train_id", "gram"]]

    survivors = (
        t.select("train_id", "gram", *pos_cols)
        .mapInPandas(_pass_bloom, schema="train_id long, gram string")
    )
    e_sizes = e.groupBy("eval_id").agg(F.count(F.lit(1)).alias("n_eval_grams"))
    return (
        survivors.join(F.broadcast(e), "gram")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .join(F.broadcast(e_sizes), "eval_id")
        .select(
            "train_id",
            "eval_id",
            "shared_grams",
            "n_eval_grams",
            (F.col("shared_grams").cast("double") / F.col("n_eval_grams").cast("double")).alias(
                "contamination"
            ),
        )
    )


def ngram_overlap_sql(n: int = 8, eval_mod: int = 23) -> str:
    """DuckDB twin of ngram_overlap over the documents table, with
    eval set = doc_id % eval_mod = 0 and train = the rest."""
    toks = tokens_sql("text")
    g = (
        f"list_transform(range(1, len(_tk) - {n} + 2), "
        f"i -> array_to_string(list_slice(_tk, i, i + {n} - 1), ' '))"
    )
    return f"""
WITH tk AS (SELECT doc_id, {toks} AS _tk FROM documents),
ok AS (SELECT * FROM tk WHERE len(_tk) >= {n}),
tg AS (SELECT DISTINCT doc_id AS train_id, unnest({g}) AS gram
       FROM ok WHERE doc_id % {eval_mod} <> 0),
eg AS (SELECT DISTINCT doc_id AS eval_id, unnest({g}) AS gram
       FROM ok WHERE doc_id % {eval_mod} = 0),
esz AS (SELECT eval_id, COUNT(*) AS n_eval_grams FROM eg GROUP BY eval_id),
hits AS (
  SELECT train_id, eval_id, COUNT(*) AS shared_grams
  FROM tg JOIN eg USING (gram) GROUP BY train_id, eval_id)
SELECT h.train_id, h.eval_id, h.shared_grams, s.n_eval_grams,
       CAST(h.shared_grams AS DOUBLE) / CAST(s.n_eval_grams AS DOUBLE) AS contamination
FROM hits h JOIN esz s ON h.eval_id = s.eval_id
"""


CLF_VOCAB_MOD = 1001  # weight buckets; weights span [-500, 500] / 500


def classifier_score_exprs(col: str = "text") -> dict[str, str]:
    """fastText-style bag-of-words linear classifier scoring (Spark dialect):
    score = mean of per-token weights, label = sign. The industry-standard
    quality/toxicity filter shape (a linear model over averaged token
    features — Joulin et al. 2016); here the weight table is a deterministic
    hash of the token (w = (hash % 1001 - 500)/500) standing in for trained
    weights — swap in a broadcast (token, weight) table from a real training
    run without touching the plan. Weight lookup and accumulation stay in
    BIGINT (exact), with ONE double division at the end, so both engines
    produce bit-identical scores.

    Scale: pure per-row JVM array fold, no shuffle — scan-bound at 100 TB.
    """
    t = tokens_expr(col)
    iw = (
        f"transform({t}, tk -> aggregate(transform(split(tk, ''), ch -> ascii(ch)), "
        f"0L, (acc, c) -> (acc * 31 + c) % {PORTABLE_HASH_P}) % {CLF_VOCAB_MOD} - 500)"
    )
    s = f"aggregate({iw}, 0L, (a, x) -> a + x)"
    n = f"size({t})"
    return {
        "clf_score": (
            f"CAST({s} AS DOUBLE) / CAST(greatest({n}, 1) * 500 AS DOUBLE)"
        ),
        "clf_label": (
            f"CASE WHEN CAST({s} AS DOUBLE) / CAST(greatest({n}, 1) * 500 AS DOUBLE) >= 0"
            f" THEN 'keep' ELSE 'drop' END"
        ),
    }


def classifier_score_sql(col: str = "text") -> dict[str, str]:
    """DuckDB twin of classifier_score_exprs (list_sum returns HUGEINT ->
    cast to BIGINT before the one double division)."""
    t = tokens_sql(col)
    iw = f"list_transform({t}, tk -> {portable_hash_sql('tk')} % {CLF_VOCAB_MOD} - 500)"
    s = f"CAST(COALESCE(list_sum({iw}), 0) AS BIGINT)"
    n = f"len({t})"
    score = f"CAST({s} AS DOUBLE) / CAST(greatest({n}, 1) * 500 AS DOUBLE)"
    return {
        "clf_score": score,
        "clf_label": f"CASE WHEN {score} >= 0 THEN 'keep' ELSE 'drop' END",
    }


def vocab_topk(
    df: DataFrame, text_col: str = "text", k: int = 500
) -> DataFrame:
    """Corpus-wide vocabulary head: global token frequencies, top-k with a
    deterministic (freq desc, token asc) order -> (token, freq, rank) — the
    frequency pass of vocabulary/tokenizer construction.

    Scale shape: explode + one map-side-combined hash aggregation (state =
    distinct vocabulary, not corpus size), then orderBy(...).limit(k) — a
    per-partition top-k fold + single tiny reduce, NOT a global sort of the
    vocabulary; the final rank window touches only k rows."""
    freq = (
        df.select(F.explode(F.expr(tokens_expr(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(k)
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("token"))
    return freq.withColumn("rank", F.row_number().over(w).cast("long"))


def vocab_topk_sql(table: str = "documents", text_col: str = "text", k: int = 500) -> str:
    """DuckDB twin of vocab_topk."""
    return f"""
WITH toks AS (SELECT unnest({tokens_sql(text_col)}) AS token FROM {table}),
freq AS (SELECT token, COUNT(*) AS freq FROM toks GROUP BY token)
SELECT token, freq,
       CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank
FROM freq ORDER BY freq DESC, token LIMIT {k}
"""


def doc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split documents into overlapping fixed-size token windows — the
    context-window chunking step of a training/RAG pipeline (reference has no
    analogue; extension op).

    Chunk i covers tokens [i*stride, i*stride + size); starts run
    0, stride, 2*stride, … up to the smallest start whose window reaches the
    end of the document, so every token is covered and consecutive chunks
    overlap by ``size - stride`` tokens. Documents shorter than ``size``
    yield exactly one (short) chunk.

    Scale shape: pure per-row JVM array ops (tokenize once, slice per chunk)
    + one explode — embarrassingly parallel, no shuffle, output rows ≈
    corpus_tokens / stride. Output: (id, chunk_id, chunk_text, n_tokens).
    """
    toks = df.select(F.col(id_col), F.expr(tokens_expr(text_col)).alias("_toks"))
    # i_max = ceil(max(n - size, 0) / stride) via integer arithmetic (`div`),
    # identical in DuckDB with `//`
    chunks = toks.select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST((greatest(size(_toks) - {size}, 0) "
                f"+ {stride - 1}) div {stride} AS INT)), "
                f"i -> slice(_toks, i * {stride} + 1, {size}))"
            )
        ).alias("chunk_id", "_chunk"),
    )
    return chunks.select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.array_join("_chunk", " ").alias("chunk_text"),
        F.size("_chunk").cast("long").alias("n_tokens"),
    )


def doc_chunks_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    size: int = 32,
    stride: int = 24,
) -> str:
    """DuckDB twin of doc_chunks (range() is end-exclusive; list slicing is
    1-based inclusive and clamps at the list end like Spark's slice)."""
    return f"""
WITH toks AS (SELECT {id_col}, {tokens_sql(text_col)} AS t FROM {table}),
starts AS (
  SELECT {id_col}, t, unnest(range(0, (greatest(len(t) - {size}, 0) + {stride - 1}) // {stride} + 1)) AS i
  FROM toks)
SELECT {id_col}, CAST(i AS BIGINT) AS chunk_id,
       COALESCE(array_to_string(t[(i * {stride} + 1):(i * {stride} + {size})], ' '), '') AS chunk_text,
       CAST(len(t[(i * {stride} + 1):(i * {stride} + {size})]) AS BIGINT) AS n_tokens
FROM starts
"""


def bpe_pair_counts(df: DataFrame, text_col: str = "text", k: int = 200) -> DataFrame:
    """Adjacent-token pair frequencies, deterministic top-k — the inner
    counting pass of a BPE/WordPiece merge step (count all adjacent symbol
    pairs, merge the most frequent; Sennrich et al. 2016). One iteration is
    the expensive distributed part; the merge-table loop around it is
    driver-side and tiny.

    Scale shape mirrors vocab_topk: per-row pair construction in JVM array
    exprs, explode, one map-side-combined hash agg (state = distinct pair
    vocabulary), per-partition top-k fold + single tiny reduce — no global
    sort. Output: (pair, freq, rank).
    """
    # materialize the token array once per row — referencing tokens_expr
    # inside the transform lambda would re-tokenize per element (O(n^2))
    toks = df.select(F.expr(tokens_expr(text_col)).alias("_toks"))
    pairs = toks.select(
        F.explode(
            F.expr(
                "CASE WHEN size(_toks) < 2 THEN array() ELSE "
                "transform(sequence(1, size(_toks) - 1), "
                "i -> concat(element_at(_toks, i), ' ', element_at(_toks, i + 1))) END"
            )
        ).alias("pair")
    )
    freq = (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("pair"))
        .limit(k)
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("pair"))
    return freq.withColumn("rank", F.row_number().over(w).cast("long"))


def bpe_pair_counts_sql(table: str = "documents", text_col: str = "text", k: int = 200) -> str:
    """DuckDB twin of bpe_pair_counts (list indexing is 1-based like
    element_at; range() end-exclusive gives i in [1, len-1])."""
    return f"""
WITH toks AS (SELECT {tokens_sql(text_col)} AS t FROM {table}),
pairs AS (
  SELECT t[i] || ' ' || t[i + 1] AS pair
  FROM toks, LATERAL unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2),
freq AS (SELECT pair, COUNT(*) AS freq FROM pairs GROUP BY pair)
SELECT pair, freq,
       CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, pair) AS BIGINT) AS rank
FROM freq ORDER BY freq DESC, pair LIMIT {k}
"""


def _doc_bigrams(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, prev, pair) for every adjacent token pair of every document."""
    toks = df.select(F.col(id_col), F.expr(tokens_expr(text_col)).alias("_toks"))
    return toks.select(
        F.col(id_col),
        F.explode(
            F.expr(
                "CASE WHEN size(_toks) < 2 THEN array() ELSE "
                "transform(sequence(1, size(_toks) - 1), "
                "i -> struct(element_at(_toks, i) AS prev, "
                "concat(element_at(_toks, i), ' ', element_at(_toks, i + 1)) AS pair)) END"
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.prev").alias("prev"), F.col("bg.pair").alias("pair"))


def bigram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    unlikely_denom: int = 16,
) -> DataFrame:
    """N-gram language-model typicality scoring (KenLM-style perplexity
    filtering, CCNet's quality signal) in integer-exact form: train a bigram
    model on the corpus itself, then score every document by how typical its
    transitions are. All-integer outputs keep the cross-engine gate exact —
    engine-computed log()s differ in the last ulp between JVM and libm, so
    the score reports the model counts instead of a float log-prob:

    - ``n_bigrams``   adjacent-pair count of the doc
    - ``n_hapax``     pairs seen exactly once corpus-wide (the doc itself) —
                      high share = unusual text, the perplexity tail
    - ``n_unlikely``  pairs with bigram_count * denom < the prev token's
                      TOTAL corpus frequency (document-final occurrences
                      included, so this slightly over-counts true bigram
                      prefixes — a deliberate simplification: one unigram
                      table serves both signals)
    - ``sum_pair_freq`` total corpus frequency of the doc's pairs (typicality
                      mass; divide by n_bigrams offline for a float score)

    Scale shape: two corpus passes build the model (bigram + unigram counts,
    map-side-combined hash aggs whose state is the n-gram vocabulary, not the
    corpus), one pass scores (explode -> hash equi-joins on pair/prev ->
    per-doc agg). At 100 TB prune the model to the top-M pairs and broadcast
    it (absent pairs are hapax by definition); at test scale the plain
    shuffle joins are the honest baseline. Docs with < 2 tokens score all
    zeros via the left join.
    """
    bg = _doc_bigrams(df, id_col, text_col)
    pair_freq = bg.groupBy("pair").agg(F.count(F.lit(1)).alias("pf"))
    uni = df.select(F.explode(F.expr(tokens_expr(text_col))).alias("tok"))
    uni_freq = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("uf"))
    scored = (
        bg.join(pair_freq, "pair")
        .join(uni_freq, bg.prev == uni_freq.tok)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("pf") == 1, 1).otherwise(0)).alias("n_hapax"),
            F.sum(
                F.when(F.col("pf") * unlikely_denom < F.col("uf"), 1).otherwise(0)
            ).alias("n_unlikely"),
            F.sum("pf").alias("sum_pair_freq"),
        )
    )
    zero = F.lit(0).cast("long")
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams").cast("long"), zero).alias("n_bigrams"),
            F.coalesce(F.col("n_hapax").cast("long"), zero).alias("n_hapax"),
            F.coalesce(F.col("n_unlikely").cast("long"), zero).alias("n_unlikely"),
            F.coalesce(F.col("sum_pair_freq").cast("long"), zero).alias("sum_pair_freq"),
        )
    )


def bigram_lm_score_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    unlikely_denom: int = 16,
) -> str:
    """DuckDB twin of bigram_lm_score (1-based list indexing; range()
    end-exclusive gives i in [1, len-1] like the Spark sequence)."""
    t = tokens_sql(text_col)
    return f"""
WITH toks AS (SELECT {id_col}, {t} AS t FROM {table}),
bg AS (
  SELECT {id_col}, t[i] AS prev, t[i] || ' ' || t[i + 1] AS pair
  FROM toks, LATERAL unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2),
pair_freq AS (SELECT pair, COUNT(*) AS pf FROM bg GROUP BY pair),
uni AS (SELECT unnest({t}) AS tok FROM {table}),
uni_freq AS (SELECT tok, COUNT(*) AS uf FROM uni GROUP BY tok),
scored AS (
  SELECT bg.{id_col} AS sid,
         COUNT(*) AS n_bigrams,
         SUM(CASE WHEN pf = 1 THEN 1 ELSE 0 END) AS n_hapax,
         SUM(CASE WHEN pf * {unlikely_denom} < uf THEN 1 ELSE 0 END) AS n_unlikely,
         SUM(pf) AS sum_pair_freq
  FROM bg JOIN pair_freq USING (pair) JOIN uni_freq ON bg.prev = uni_freq.tok
  GROUP BY bg.{id_col})
SELECT d.{id_col},
       CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(COALESCE(n_hapax, 0) AS BIGINT) AS n_hapax,
       CAST(COALESCE(n_unlikely, 0) AS BIGINT) AS n_unlikely,
       CAST(COALESCE(sum_pair_freq, 0) AS BIGINT) AS sum_pair_freq
FROM {table} d LEFT JOIN scored ON d.{id_col} = scored.sid
"""


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-document top-k terms by tf-idf — the keyword-extraction /
    rare-term-indexing pass of corpus analytics, in integer-exact form: the
    ranking key is ``tf * scale // df`` (term frequency in the doc scaled
    against corpus document frequency). Integer division replaces the float
    idf log — the ORDERING matches tf/df to 1e-6 resolution and is exact in
    any engine, where log()-based scores differ in the last ulp between JVM
    and libm and break cross-engine gates.

    Scale shape: one explode + per-(doc,term) count, a corpus-DF hash agg
    whose state is the vocabulary, a hash equi-join term->df, and one
    per-doc top-k window — all map-side-combinable; no global sort. At 100
    TB, broadcast the DF table's head (the vocabulary tail is hapax: df=1
    needs no join — absent means df=1).
    """
    terms = df.select(
        F.col(id_col), F.explode(F.expr(tokens_expr(text_col))).alias("term")
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        terms.select(id_col, "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = tf.join(dfreq, "term").withColumn(
        "score", F.expr(f"tf * {scale} div df").cast("long")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "tf", "df", "score", "rk")
    )


def tfidf_top_terms_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin of tfidf_top_terms (// = Spark's div on BIGINT)."""
    return f"""
WITH terms AS (SELECT {id_col}, unnest({tokens_sql(text_col)}) AS term FROM {table}),
tf AS (SELECT {id_col}, term, COUNT(*) AS tf FROM terms GROUP BY {id_col}, term),
dfreq AS (SELECT term, COUNT(DISTINCT {id_col}) AS df FROM terms GROUP BY term),
scored AS (
  SELECT tf.{id_col}, tf.term, tf.tf, dfreq.df,
         CAST(tf.tf * {scale} // dfreq.df AS BIGINT) AS score
  FROM tf JOIN dfreq USING (term))
SELECT {id_col}, term, tf, df, score,
       CAST(rk AS BIGINT) AS rk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY {id_col}
              ORDER BY score DESC, term ASC) AS rk FROM scored) t
WHERE rk <= {k}
"""


def ccnet_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = 3,
    unlikely_denom: int = 16,
    scale: int = 1_000_000,
) -> DataFrame:
    """CCNet-style per-language perplexity bucketing: rank every document by
    an LM-atypicality score WITHIN its language and split each language into
    ``n_buckets`` quality tiers (CCNet's head/middle/tail; Wenzek et al.,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data"). Pipelines keep head+middle and drop (or downweight) the tail.

    The score is integer-exact so the gate is engine-portable: atypicality =
    ``n_unlikely * scale // max(n_bigrams, 1)`` from the corpus-trained
    bigram LM (see :func:`bigram_lm_score` — KenLM stands behind the same
    slot in production; the rank ORDER matches the float ratio to 1/scale).
    Ties break on doc id, so the ntile assignment is deterministic.

    Scale shape: bigram_lm_score's two model passes + one score pass, then a
    single per-language window (ntile) — one shuffle keyed by language. At
    100 TB replace the exact per-language ntile with approx percentile
    boundaries (CCNet itself uses fixed thresholds computed once on a
    sample); the exact window is the verifiable reference.
    Output: (id, lang, atyp, bucket 1..n, tier head|middle|tail for n=3).
    """
    scored = bigram_lm_score(df, id_col, text_col, unlikely_denom)
    langs = df.select(id_col, lang_col)
    atyp = (
        scored.join(langs, id_col)
        .withColumn(
            "atyp",
            F.expr(f"n_unlikely * {scale} div greatest(n_bigrams, 1)").cast("long"),
        )
    )
    w = Window.partitionBy(lang_col).orderBy(F.col("atyp").asc(), F.col(id_col).asc())
    out = atyp.withColumn("bucket", F.ntile(n_buckets).over(w).cast("long"))
    if n_buckets == 3:
        tier = (
            F.when(F.col("bucket") == 1, "head")
            .when(F.col("bucket") == 2, "middle")
            .otherwise("tail")
        )
    else:
        tier = F.concat(F.lit("b"), F.col("bucket"))
    return out.select(id_col, lang_col, "atyp", "bucket", tier.alias("tier"))


def ccnet_buckets_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = 3,
    unlikely_denom: int = 16,
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin of ccnet_buckets (same integer score, same ntile rule)."""
    lm = bigram_lm_score_sql(table, id_col, text_col, unlikely_denom)
    return f"""
WITH lm AS ({lm}),
atyp AS (
  SELECT lm.{id_col}, d.{lang_col},
         CAST(n_unlikely * {scale} // GREATEST(n_bigrams, 1) AS BIGINT) AS atyp
  FROM lm JOIN {table} d ON lm.{id_col} = d.{id_col}),
b AS (
  SELECT *, CAST(NTILE({n_buckets}) OVER (PARTITION BY {lang_col}
                ORDER BY atyp ASC, {id_col} ASC) AS BIGINT) AS bucket
  FROM atyp)
SELECT {id_col}, {lang_col}, atyp, bucket,
       CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 2 THEN 'middle'
            ELSE 'tail' END AS tier
FROM b
"""


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    df: DataFrame, id_col: str = "doc_id", col: str = "text"
) -> DataFrame:
    """Gopher quality rules (Rae et al., "Scaling Language Models: Methods,
    Analysis & Insights from Training Gopher", 2021, Appendix A) — the
    published rule bundle behind MassiveWeb-style filtering, as one pure-JVM
    projection. Every rule is an INTEGER comparison (ratios cross-multiplied:
    mean word length in [3,10] becomes 3*n <= len_sum <= 10*n), so the
    boolean outputs are bit-exact across engines — no float thresholds.

    Rules (keep = all pass):
    - r_wordcount:  50 <= word count <= 100000
    - r_meanlen:    mean word length in [3, 10]
    - r_symbol:     (# '#' chars + '...' occurrences) / words <= 0.1
    - r_bullet:     bullet-started lines <= 90% of lines
    - r_ellipsis:   '...'-ended lines <= 30% of lines
    - r_alpha:      >= 80% of words contain an alphabetic character
    - r_stop:       >= 2 distinct required stop words present

    Scale: embarrassingly parallel per document, no shuffle; the scan prunes
    to (id, text).
    """
    t = tokens_expr(col)
    req = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    lines = f"split({col}, '\\n')"
    exprs = {
        "n_words": f"size({t})",
        "len_sum": f"aggregate({t}, 0, (acc, x) -> acc + length(x))",
        "n_alpha_words": f"size(filter({t}, x -> x rlike '[a-z]'))",
        "n_req_stop": f"size(array_intersect(array_distinct({t}), array({req})))",
        "n_symbols": (
            f"(length({col}) - length(replace({col}, '#', ''))) + "
            f"CAST((length({col}) - length(replace({col}, '...', ''))) / 3 AS INT)"
        ),
        "n_lines": f"size({lines})",
        "n_bullet_lines": f"size(filter({lines}, x -> trim(x) rlike '^[-*]'))",
        "n_ellipsis_lines": f"size(filter({lines}, x -> trim(x) rlike '\\\\.\\\\.\\\\.$'))",
    }
    counted = df.select(F.col(id_col), *[F.expr(e).alias(n) for n, e in exprs.items()])
    rules = {
        "r_wordcount": "n_words >= 50 AND n_words <= 100000",
        "r_meanlen": "3 * n_words <= len_sum AND len_sum <= 10 * n_words",
        "r_symbol": "10 * n_symbols <= greatest(n_words, 1)",
        "r_bullet": "10 * n_bullet_lines <= 9 * n_lines",
        "r_ellipsis": "10 * n_ellipsis_lines <= 3 * n_lines",
        "r_alpha": "5 * n_alpha_words >= 4 * n_words",
        "r_stop": "n_req_stop >= 2",
    }
    out = counted.select(
        id_col,
        "n_words",
        *[F.expr(e).alias(n) for n, e in rules.items()],
    )
    return out.withColumn(
        "keep", F.expr(" AND ".join(rules.keys()))
    )


def gopher_rules_sql(
    table: str = "documents", id_col: str = "doc_id", col: str = "text"
) -> str:
    """DuckDB twin of gopher_rules (same integer counts and comparisons)."""
    t = tokens_sql(col)
    req = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    lines = f"string_split({col}, chr(10))"
    return f"""
WITH counted AS (
  SELECT {id_col},
         len({t}) AS n_words,
         COALESCE(list_sum(list_transform({t}, x -> length(x))), 0) AS len_sum,
         len(list_filter({t}, x -> regexp_matches(x, '[a-z]'))) AS n_alpha_words,
         len(list_intersect(list_distinct({t}), [{req}])) AS n_req_stop,
         (length({col}) - length(replace({col}, '#', ''))) +
           CAST(floor((length({col}) - length(replace({col}, '...', ''))) / 3) AS INT)
             AS n_symbols,
         len({lines}) AS n_lines,
         len(list_filter({lines}, x -> regexp_matches(trim(x), '^[-*]'))) AS n_bullet_lines,
         len(list_filter({lines}, x -> regexp_matches(trim(x), '\\.\\.\\.$'))) AS n_ellipsis_lines
  FROM {table}),
ruled AS (
  SELECT {id_col}, CAST(n_words AS BIGINT) AS n_words,
         n_words >= 50 AND n_words <= 100000 AS r_wordcount,
         3 * n_words <= len_sum AND len_sum <= 10 * n_words AS r_meanlen,
         10 * n_symbols <= GREATEST(n_words, 1) AS r_symbol,
         10 * n_bullet_lines <= 9 * n_lines AS r_bullet,
         10 * n_ellipsis_lines <= 3 * n_lines AS r_ellipsis,
         5 * n_alpha_words >= 4 * n_words AS r_alpha,
         n_req_stop >= 2 AS r_stop
  FROM counted)
SELECT *, r_wordcount AND r_meanlen AND r_symbol AND r_bullet AND r_ellipsis
          AND r_alpha AND r_stop AS keep
FROM ruled
"""


# ---------------------------------------------------------------------------
# DSIR: data selection via importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096


def _hashed_features(df: DataFrame, id_col: str, text_col: str, buckets: int) -> DataFrame:
    """One row per hashed n-gram OCCURRENCE: (id, bucket). DSIR's feature
    space is hashed unigrams + bigrams folded into `buckets` buckets
    (Xie et al. 2023 §2.2, the hashed n-gram generative model); the portable
    31-polynomial hash keeps the bucketing bit-exact cross-engine."""
    uni = df.select(F.col(id_col), F.explode(F.expr(tokens_expr(text_col))).alias("tok")).select(
        F.col(id_col), (F.expr(portable_hash_expr("tok")) % buckets).alias("bucket")
    )
    bi = _doc_bigrams(df, id_col, text_col).select(
        F.col(id_col), (F.expr(portable_hash_expr("pair")) % buckets).alias("bucket")
    )
    return uni.unionByName(bi)


def dsir_weights(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Per-document DSIR importance weights, integer-exact.

    DSIR (Xie et al. 2023, "Data Selection for Language Models via Importance
    Resampling") fits hashed n-gram bag models on a TARGET corpus (p) and the
    RAW corpus (q) and weights every raw document by
    ``log w(x) = sum_f c_f (log p_f - log q_f)``. Engine log()s differ in the
    last ulp between JVM and libm (the bigram_lm_score precedent), so the
    per-bucket log-ratio is quantized to integer BITS:
    ``w_b = len(bin(tc_b + 1)) - len(bin(rc_b + 1))`` — floor(log2)+1 of the
    add-one-smoothed counts, computed by binary-string length (exact in both
    engines, no floating point anywhere). The document weight is the sum of
    its occurrences' bucket weights: order-independent integer arithmetic.

    Scale shape: one explode per corpus -> two hash aggs whose state is the
    bucket table (<= `buckets` rows per partition, map-side combined), the
    bucket weight table broadcast (<= `buckets` rows), one doc-keyed agg.
    No shuffle grows with corpus size except the final per-doc agg.
    """
    from pyspark import StorageLevel

    # persist: the raw-corpus feature relation feeds BOTH the bucket-count
    # aggregation and the per-doc scoring join; uncached, the tokenize +
    # per-ngram portable hash (the dominant cost) runs twice
    feats = _hashed_features(df, id_col, text_col, buckets).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    feats.count()
    feats_t = _hashed_features(target, id_col, text_col, buckets)
    raw = feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("rc"))
    tgt = feats_t.groupBy("bucket").agg(F.count(F.lit(1)).alias("tc"))
    wtab = raw.join(tgt, "bucket", "left").select(
        "bucket",
        (
            F.length(F.bin(F.coalesce(F.col("tc"), F.lit(0)) + 1))
            - F.length(F.bin(F.col("rc") + 1))
        ).cast("long").alias("w"),
    )
    scored = (
        feats.join(F.broadcast(wtab), "bucket")
        .groupBy(id_col)
        .agg(F.sum("w").alias("dsir_weight"))
    )
    return df.select(id_col).join(scored, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("dsir_weight"), F.lit(0)).cast("long").alias("dsir_weight"),
    )


def dsir_sample(
    df: DataFrame,
    target: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """Deterministic Gumbel-free DSIR resample: the top-k raw documents by
    (importance weight desc, id asc). The paper resamples with Gumbel noise
    for diversity; the deterministic top-k is the reproducible variant
    (equivalent to temperature -> 0) and the cross-engine-gateable one.
    Spark executes orderBy+limit as TakeOrdered (per-partition top-k then a
    k-row driver merge — no global sort shuffle)."""
    return (
        dsir_weights(df, target, id_col, text_col, buckets)
        .orderBy(F.col("dsir_weight").desc(), F.col(id_col))
        .limit(k)
    )


def dsir_sample_sql(
    table: str = "documents",
    target_where: str = "lang = 'en'",
    k_expr: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = DSIR_BUCKETS,
) -> str:
    """DuckDB twin of dsir_sample (same hash, same bin()-length bit
    quantization, same (weight desc, id) tie-break)."""
    t = tokens_sql(text_col)
    k = k_expr or f"(SELECT CAST(ceil(COUNT(*) / 4.0) AS BIGINT) FROM {table})"
    return f"""
WITH toks AS (SELECT {id_col}, {t} AS t FROM {table}),
uni AS (SELECT {id_col}, unnest(t) AS g FROM toks),
bg AS (
  SELECT {id_col}, t[i] || ' ' || t[i + 1] AS g
  FROM toks, LATERAL unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2),
feats AS (
  SELECT {id_col}, {portable_hash_sql('g')} % {buckets} AS bucket FROM uni
  UNION ALL
  SELECT {id_col}, {portable_hash_sql('g')} % {buckets} AS bucket FROM bg),
tgt_ids AS (SELECT {id_col} FROM {table} WHERE {target_where}),
raw AS (SELECT bucket, COUNT(*) AS rc FROM feats GROUP BY bucket),
tgt AS (SELECT bucket, COUNT(*) AS tc
        FROM feats JOIN tgt_ids USING ({id_col}) GROUP BY bucket),
wtab AS (
  SELECT raw.bucket,
         CAST(length(bin(COALESCE(tc, 0) + 1)) - length(bin(rc + 1)) AS BIGINT) AS w
  FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket),
scored AS (
  SELECT feats.{id_col} AS sid, SUM(w) AS wt
  FROM feats JOIN wtab ON feats.bucket = wtab.bucket
  GROUP BY feats.{id_col})
SELECT d.{id_col}, CAST(COALESCE(wt, 0) AS BIGINT) AS dsir_weight
FROM {table} d LEFT JOIN scored ON d.{id_col} = scored.sid
ORDER BY dsir_weight DESC, d.{id_col}
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Iterated trainers: BPE and WordPiece merges, unigram-LM EM, and the integer
# perceptrons of perceptron_train / langid_train. Each training step has ONE
# implementation every family calls: `_word_counts` (the weighted
# distinct-word relation), `_train_merges` (the pair-merge loop),
# `_unigram_em` (the EM schedule), `_perceptron` with its one numpy step
# `_perceptron_step` and bag kernel `_hashed_bags`, and `_single_task` (the
# single-task route). A family keeps only what is its own: its symbol split
# and merge score, the unigram Viterbi E-step, its hash values. Each
# Python step is the step-for-step twin of its JVM step (both perceptron
# routes run the same numpy step), so both routes return identical rows.
# ---------------------------------------------------------------------------

BPE_END_OF_WORD = "</w>"

# Vocab-size bound for the single-task tokenizer-training route. All the
# iterated trainers (BPE / WordPiece / unigram EM) first compress the corpus
# to the weighted distinct-word relation — O(vocab), not O(corpus) — and then
# pay per-iteration job/shuffle/collect overhead that dwarfs the compute when
# the vocabulary is metadata-sized. At or below this many rows the whole
# K-step loop runs in ONE task (`_single_task` over the coalesced vocab),
# exactly the keep_representatives union-find pattern; larger vocabularies
# keep the distributed loops. The bound is a row-count contract on the
# vocabulary (Heaps-law bounded), not a local-core constant.
_TOKENIZER_SINGLE_TASK_WORDS = 200_000

# Dense-matrix bound (bag rows x dim, ~64 MB of int64 bags) for the
# single-task perceptron/langid route. At or below it the K full-batch
# steps run in ONE task; above it each step is one job over the partitions
# (~0.17 s fixed cost per job, plus one shuffle that brings a document's
# rows together). Measured (SCALING.md "Perceptron-family routes"): the
# single task wins at 5.12M cells (langid_train x16, perceptron_train x32);
# at 10.2M cells the partitions win for langid_train (x32) and tie for
# perceptron_train (x64).
_TRAINER_SINGLE_TASK_CELLS = 8_000_000


def _single_task(df: DataFrame, run, schema: str) -> DataFrame:
    """The single-task route of every iterated trainer: the (metadata-sized)
    input relation coalesced into ONE mapInPandas task, in which the whole
    K-step loop runs in-process (per-step jobs, shuffles and driver
    round-trips are the cost at these sizes). ``run(pdf)`` gets every
    input row as one pandas frame (no rows: an empty frame) and returns the
    output rows as tuples in ``schema`` order."""
    cols, names = df.columns, DataType.fromDDL(schema).names

    def kernel(batches):
        import pandas as pd

        pdfs = list(batches)
        pdf = pd.concat(pdfs, ignore_index=True) if pdfs else pd.DataFrame(columns=cols)
        yield pd.DataFrame(run(pdf), columns=names)

    return df.coalesce(1).mapInPandas(kernel, schema)


def _word_counts(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus -> weighted distinct-word relation (word, cnt)."""
    return (
        df.select(F.explode(F.expr(tokens_expr(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _weighted_freq(df: DataFrame, arr, name: str, freq: str = "freq") -> DataFrame:
    """(name, freq): the cnt-weighted frequency of every element of the
    array column ``arr`` — one map-side-combined hash agg (O(vocab))."""
    return df.select("cnt", F.explode(arr).alias(name)).groupBy(name).agg(
        F.sum("cnt").alias(freq)
    )


def _pair_freq(syms: DataFrame) -> DataFrame:
    """(a, b, freq): cnt-weighted adjacent symbol pairs of the per-word
    ``syms`` arrays — one map-side-combined hash agg over the exploded pairs
    (state = the distinct pair vocabulary)."""
    return (
        syms.select(
            "cnt",
            F.explode(
                F.expr(
                    "CASE WHEN size(syms) < 2 THEN array() ELSE "
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(element_at(syms, i) AS a, element_at(syms, i + 1) AS b)) END"
                )
            ).alias("p"),
        )
        .groupBy("p.a", "p.b")
        .agg(F.sum("cnt").alias("freq"))
    )


def _merge_fold(a: str, b: str, ab: str) -> Column:
    """Greedy left-to-right merge of the adjacent pair (a, b) into ``ab`` as
    a JVM array fold over ``syms``: walking the symbol list once, replacing
    [.., a, b, ..] with [.., ab, ..]; because the merged token never equals
    the bare 'a' again, the fold reproduces exact non-overlapping greedy
    semantics ('aaaa' + (a,a) -> [aa, aa], not [aa, a, a]). The symbols
    travel via F.lit, never f-string SQL."""
    return F.aggregate(
        F.col("syms"),
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == F.lit(a)) & (x == F.lit(b)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(ab))),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def _merge_step(syms: list[str], a: str, b: str, ab: str) -> list[str]:
    """Python twin of _merge_fold, step for step."""
    out: list[str] = []
    for x in syms:
        if out and out[-1] == a and x == b:
            out[-1] = ab
        else:
            out.append(x)
    return out


def _train_merges(
    syms: DataFrame, k: int, join=str.__add__, score=None, score_local=None
):
    """The K-step pair-merge loop of BPE and WordPiece over the per-word
    symbol relation (word, cnt, syms): per step, cnt-weighted adjacent-pair
    frequencies, winner = max score (ties: lexicographic on left then right
    symbol), greedy re-segment with the merged symbol ``join(a, b)``. The
    score is the pair frequency unless the family passes ``score(syms,
    pairs) -> (a, b, freq, score)`` and its twin ``score_local(syms, freq)
    -> {(a, b): score}``. Returns (merges, final symbol relation); a merge is
    (step, a, b, freq, score).

    At or below _TOKENIZER_SINGLE_TASK_WORDS words one task runs the loop and
    emits tagged rows: merge rows (step IS NOT NULL) + final symbol rows; the
    k-row merge collect is the same sanctioned scalar readout as the
    distributed loop's per-step winner collect. Lazy checkpoints throughout:
    each step's winner collect is the first action over the current symbol
    relation, so ONE job both materializes the checkpoint and picks the
    winner (eager checkpointing paid a separate job per step)."""
    syms = syms.localCheckpoint(eager=False)
    if syms.count() <= _TOKENIZER_SINGLE_TASK_WORDS:

        def run(pdf):
            local = [
                (w, c, list(s))
                for w, c, s in zip(pdf["word"].tolist(), pdf["cnt"].tolist(), pdf["syms"])
            ]
            merges = []
            for step in range(1, k + 1):
                freq: dict = {}  # the _pair_freq twin
                for _w, c, x in local:
                    for p in zip(x, x[1:]):
                        freq[p] = freq.get(p, 0) + c
                if not freq:
                    break
                scores = freq if score_local is None else score_local(local, freq)
                # (score desc, a, b): ASCII symbols, so Python string order ==
                # Spark UTF8 binary order, the distributed orderBy below
                (a, b), s = min(scores.items(), key=lambda kv: (-kv[1], kv[0]))
                merges.append((step, a, b, freq[(a, b)], s))
                ab = join(a, b)
                local = [(w, c, _merge_step(x, a, b, ab) if a in x else x) for w, c, x in local]
            return [m + (None,) * 3 for m in merges] + [(None,) * 5 + t for t in local]

        out = _single_task(
            syms, run, "step int, left_sym string, right_sym string, freq bigint, "
            "score bigint, word string, cnt bigint, syms array<string>",
        ).localCheckpoint(eager=False)
        merges = [
            (r["step"], r["left_sym"], r["right_sym"], int(r["freq"]), int(r["score"]))
            for r in out.filter("step IS NOT NULL").orderBy("step").collect()
        ]
        return merges, out.filter("step IS NULL").select("word", "cnt", "syms")
    merges = []
    for step in range(1, k + 1):
        pairs = _pair_freq(syms)
        ranked = pairs.withColumn("score", F.col("freq")) if score is None else score(syms, pairs)
        top = ranked.orderBy(F.col("score").desc(), "a", "b").limit(1).collect()
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((step, a, b, int(top[0]["freq"]), int(top[0]["score"])))
        syms = syms.withColumn("syms", _merge_fold(a, b, join(a, b)))
        syms = syms.localCheckpoint(eager=False)
    return merges, syms


def _bpe_train(df: DataFrame, text_col: str, k: int):
    """BPE's merge loop: symbols = the word's characters + '</w>', score =
    pair frequency, merged symbol = a || b. Returns (merges, final per-word
    symbol relation): bpe_learn reports the merge table; bpe_encode keeps the
    re-segmented vocabulary — which IS the encoder output, because applying a
    BPE merge list to a corpus equals replaying the merges over its word
    vocabulary (Sennrich et al. 2016 apply_bpe)."""
    syms = _word_counts(df, text_col).select(
        "word",
        "cnt",
        F.concat(
            F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
            F.array(F.lit(BPE_END_OF_WORD)),
        ).alias("syms"),
    )
    return _train_merges(syms, k)


def bpe_learn(df: DataFrame, text_col: str = "text", k: int = 6) -> DataFrame:
    """Iterated BPE tokenizer training (Sennrich et al. 2016): K
    deterministic merge steps, each = count adjacent symbol pairs -> pick the
    most frequent (ties: lexicographic on left then right symbol) -> merge it
    greedily in every word -> repeat. bpe_pair_counts is one counting pass;
    this is the production loop around it.

    Scale shape: the corpus first compresses to the distinct-WORD relation
    with counts (one shuffle; 100 TB of text -> the word vocabulary), and
    every subsequent iteration is O(vocab), not O(corpus): pair counting is
    a map-side-combined hash agg over exploded adjacent pairs weighted by
    word count (state = distinct pair vocabulary), the merge is a
    whole-stage-codegen array fold per word, and only the single winning
    pair row crosses to the driver per step (sanctioned scalar collect).
    localCheckpoint per iteration truncates the K-deep fold lineage, same
    pattern as dedup_cluster. Output: the learned merge table
    (step, left_sym, right_sym, freq) — k rows.
    """
    merges, _ = _bpe_train(df, text_col, k)
    return df.sparkSession.createDataFrame(
        [m[:4] for m in merges], "step int, left_sym string, right_sym string, freq bigint"
    )


def bpe_encode(df: DataFrame, text_col: str = "text", k: int = 6) -> DataFrame:
    """Tokenizer APPLY — encode the corpus with its K learned BPE merges and
    return the resulting token frequency table ``(token, freq)``: the
    vocabulary a trained tokenizer would actually emit, with corpus counts.

    Scale shape: training already reduced the corpus to the weighted distinct
    -word relation, and encoding a corpus with a merge list is exactly
    replaying those merges over that relation — so the encode step adds ONE
    map-side-combined hash agg over the exploded final symbols (O(vocab)),
    zero extra passes over the raw text. Per-document token counts (the
    packing/budgeting input) come from joining documents' words to this
    relation — see tests; the corpus-frequency view is the gated surface.
    """
    _, syms = _bpe_train(df, text_col, k)
    return _weighted_freq(syms, "syms", "token")


def bpe_learn_sql(table: str = "documents", text_col: str = "text", k: int = 6) -> str:
    """DuckDB twin of bpe_learn: the K iterations unroll into K chained CTE
    pairs (p{i} = winning pair of iteration i, it{i+1} = re-segmented
    vocabulary), with the merge expressed as DuckDB's own list_reduce fold
    over single-element lists (its lambda fold needs acc and element to share
    a type). Independent restatement: different fold encoding, same greedy
    semantics."""
    union = "\nUNION ALL\n".join(
        f"SELECT {i + 1} AS step, a AS left_sym, b AS right_sym, CAST(freq AS BIGINT) AS freq FROM p{i}"
        for i in range(k)
    )
    return _bpe_chain_sql(table, text_col, k) + "\n" + union


def bpe_encode_sql(table: str = "documents", text_col: str = "text", k: int = 6) -> str:
    """DuckDB twin of bpe_encode: the same unrolled merge chain, then the
    final vocabulary it{k} explodes into tokens weighted by word count."""
    return (
        _bpe_chain_sql(table, text_col, k)
        + f""",
tok AS (SELECT unnest(syms) AS token, cnt FROM it{k})
SELECT token, CAST(SUM(cnt) AS BIGINT) AS freq FROM tok GROUP BY token"""
    )


def _bpe_chain_sql(table: str, text_col: str, k: int) -> str:
    parts = [
        f"""
WITH w AS (SELECT unnest({tokens_sql(text_col)}) AS word FROM {table}),
wc AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
it0 AS (SELECT word, cnt,
               list_append(list_transform(range(1, length(word) + 1), i -> word[i:i]),
                           '{BPE_END_OF_WORD}') AS syms
        FROM wc)"""
    ]
    for s in range(k):
        parts.append(
            f""",
p{s} AS (
  SELECT a, b, freq FROM (
    SELECT syms[i] AS a, syms[i + 1] AS b, SUM(cnt) AS freq
    FROM it{s}, LATERAL unnest(range(1, len(syms))) AS u(i)
    GROUP BY 1, 2)
  ORDER BY freq DESC, a, b LIMIT 1),
it{s + 1} AS (
  SELECT word, cnt,
    list_reduce(list_transform(syms, e -> [e]),
      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = p{s}.a AND x[1] = p{s}.b
                  THEN acc[1:len(acc) - 1] || [p{s}.a || p{s}.b]
                  ELSE acc || x END) AS syms
  FROM it{s}, p{s})"""
        )
    return "".join(parts)


def nfc_normalize_text(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Unicode NFC normalization — the canonicalization step before exact
    dedup and fingerprinting (decomposed 'e'+U+0301 and composed U+00E9 must
    hash identically or every dedup op silently misses). Arrow-batched
    kernel over Python's unicodedata; the gate compares it against DuckDB's
    utf8proc-backed nfc_normalize — two INDEPENDENT NFC implementations
    agreeing byte-for-byte on constructed decomposed fixtures."""
    import unicodedata

    def _norm(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "nfc": [unicodedata.normalize("NFC", t) for t in pdf[text_col]],
                }
            )

    return df.mapInPandas(_norm, schema="doc_id long, nfc string")


def gopher_repetition(
    df: DataFrame, id_col: str = "doc_id", col: str = "text",
    top_ns: tuple = (2, 3, 4), dup_ns: tuple = (5, 10),
) -> DataFrame:
    """The Gopher paper's n-gram repetition filters (Rae et al. 2021 §A1.1.3,
    adapted from char- to token-fractions so both engines compute it exactly):
    for each small n, the share of tokens covered by the single most frequent
    n-gram (top{n}_share = max_cnt * n / n_tokens); for each large n, the
    share covered by ALL duplicated n-grams (dup{n}_frac = sum of counts>=2
    * n / n_tokens). High values flag boilerplate/spam that token-level
    dup_ratio (repetition_stats) misses.

    Plan shape: ONE exploded (doc, n, gram) relation across all requested n
    (grams built JVM-side: array_join over token slices), one hash agg on
    (doc, n, gram), one on (doc, n), then a pinned pivot — two shuffles
    total regardless of how many n's. State never exceeds one document's
    n-gram vocabulary; ratios divide identical BIGINTs as DOUBLE."""
    ns = sorted(set(top_ns) | set(dup_ns))
    toks = df.select(
        F.col(id_col), F.expr(tokens_expr(col)).alias("toks")
    ).select(F.col(id_col), "toks", F.size("toks").alias("n_tokens"))
    grams = toks.select(
        F.col(id_col),
        "n_tokens",
        F.explode(
            F.expr(
                "flatten(transform(array(%s), n -> "
                "CASE WHEN size(toks) >= n THEN transform(sequence(1, size(toks) - n + 1), "
                "i -> struct(n AS n, array_join(slice(toks, i, n), ' ') AS gram)) "
                "ELSE array() END))" % ",".join(str(n) for n in ns)
            )
        ).alias("g"),
    )
    per_gram = grams.groupBy(id_col, "n_tokens", "g.n", "g.gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_n = per_gram.groupBy(id_col, "n_tokens", "n").agg(
        F.max("cnt").alias("max_cnt"),
        F.sum(F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(F.lit(0))).alias("dup_cnt"),
    )
    shares = per_n.groupBy(id_col).agg(
        *[
            F.max(
                F.when(F.col("n") == n, F.col("max_cnt") * n / F.col("n_tokens"))
            ).alias(f"top{n}_share")
            for n in top_ns
        ],
        *[
            F.max(
                F.when(F.col("n") == n, F.col("dup_cnt") * n / F.col("n_tokens"))
            ).alias(f"dup{n}_frac")
            for n in dup_ns
        ],
    )
    out = toks.select(id_col, "n_tokens").join(shares, id_col, "left")
    # docs shorter than n tokens have no n-grams at all: coverage 0 by definition
    fills = {f"top{n}_share": 0.0 for n in top_ns}
    fills.update({f"dup{n}_frac": 0.0 for n in dup_ns})
    return out.fillna(fills)


def gopher_repetition_sql(
    table: str = "documents", id_col: str = "doc_id", col: str = "text",
    top_ns: tuple = (2, 3, 4), dup_ns: tuple = (5, 10),
) -> str:
    """DuckDB twin: same exploded n-gram relation via lateral range unnest."""
    ns = sorted(set(top_ns) | set(dup_ns))
    top_cols = ",\n       ".join(
        f"COALESCE(MAX(CASE WHEN n = {n} THEN CAST(max_cnt * {n} AS DOUBLE) / CAST(pn_tokens AS DOUBLE) END), 0.0) AS top{n}_share"
        for n in top_ns
    )
    dup_cols = ",\n       ".join(
        f"COALESCE(MAX(CASE WHEN n = {n} THEN CAST(dup_cnt * {n} AS DOUBLE) / CAST(pn_tokens AS DOUBLE) END), 0.0) AS dup{n}_frac"
        for n in dup_ns
    )
    return f"""
WITH base AS (
  SELECT {id_col}, {tokens_sql(col)} AS toks FROM {table}),
tokcnt AS (
  SELECT {id_col}, toks, len(toks) AS n_tokens FROM base),
grams AS (
  SELECT {id_col}, n_tokens, nn AS n,
         array_to_string(toks[i:i + nn - 1], ' ') AS gram
  FROM tokcnt,
       LATERAL unnest(ARRAY[{",".join(str(n) for n in ns)}]) AS tn(nn),
       LATERAL unnest(range(1, len(toks) + 1)) AS tu(i)
  WHERE i + nn - 1 <= len(toks)),
per_gram AS (
  SELECT {id_col}, n_tokens, n, gram, COUNT(*) AS cnt
  FROM grams GROUP BY ALL),
per_n AS (
  SELECT {id_col}, n_tokens AS pn_tokens, n, MAX(cnt) AS max_cnt,
         SUM(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS dup_cnt
  FROM per_gram GROUP BY ALL)
SELECT t.{id_col},
       CAST(t.n_tokens AS INT) AS n_tokens,
       {top_cols},
       {dup_cols}
FROM tokcnt t LEFT JOIN per_n p ON t.{id_col} = p.{id_col}
GROUP BY t.{id_col}, t.n_tokens
"""


def _hashed_bags(
    df: DataFrame, col: str, dim: int, n: int = 0,
    emit=None, out: str = "vec array<long>",
) -> DataFrame:
    """The hashed-bag kernel of the perceptron family: one Arrow pass that
    turns each row's hash values h into a dense count bag of length dim,
    ``np.bincount(row * dim + h % dim)``. ``n > 0``: ``col`` is
    norm_text_expr output (ASCII, so a byte is a char) and the values are
    its char n-grams under char_fold_expr's (acc * 31 + c) % P fold, run
    over the Arrow byte buffer with the grams that cross a row boundary
    masked out. ``n == 0``: ``col`` is an array<int> of hash values.

    Every other column of ``df`` passes through; ``emit(batch, M)`` turns
    the batch's (rows x dim) int64 bag matrix into the ``out`` columns
    (default: the bag itself as ``vec``)."""
    keep = [c for c in df.columns if c != col]
    schema = StructType([df.schema[c] for c in keep] + DataType.fromDDL(out).fields)

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            arr, rows = b.column(col), b.num_rows
            lens = pc.fill_null(pc.binary_length(arr) if n else pc.list_value_length(arr), 0)
            row = np.repeat(np.arange(rows), np.asarray(lens))
            if n:  # a column from the JVM starts at byte 0 of its data buffer
                data, size = np.frombuffer(arr.buffers()[2] or b"", np.uint8), max(len(row) - n + 1, 0)
                h = data[:size].astype(np.int64)
                for j in range(1, n):
                    h = (h * 31 + data[j:size + j]) % PORTABLE_HASH_P
                inrow = row[:size] == row[n - 1:]
                h, row = h[inrow], row[:size][inrow]
            else:
                h = np.asarray(arr.flatten(), dtype=np.int64)
            M = np.bincount(row * dim + h % dim, minlength=rows * dim).reshape(rows, dim)
            cols = emit(b, M) if emit else [
                pa.ListArray.from_arrays(np.arange(0, M.size + 1, dim, dtype=np.int32), M.ravel())
            ]
            yield pa.RecordBatch.from_arrays([b.column(c) for c in keep] + cols, names=schema.names)

    return df.mapInArrow(kernel, schema)


def _perceptron_docs(doc, label, V: np.ndarray, classes: tuple) -> tuple[np.ndarray, np.ndarray]:
    """(M, Y) of bag rows: rows that share a doc id merge into one document
    (their bags add up, as the oracle's GROUP BY d does); Y[doc, ci] = +1
    iff a row of the doc has label classes[ci], else -1 (NULL label: -1)."""
    import pandas as pd

    pos = np.stack([np.asarray(label == c, dtype=bool) for c in classes], axis=1)
    codes, uniq = pd.factorize(doc)
    if len(uniq) < len(codes):
        order = np.argsort(codes, kind="stable")
        starts = np.flatnonzero(np.diff(codes[order], prepend=-1))
        V, pos = np.add.reduceat(V[order], starts), np.logical_or.reduceat(pos[order], starts)
    return V, np.where(pos, 1, -1)


def _perceptron_step(M: np.ndarray, Y: np.ndarray, W: np.ndarray) -> np.ndarray:
    """The full-batch update of every class at once: sum(y * bag) over the
    docs the class's weights misclassify (y * score <= 0)."""
    return (Y * ((Y * (M @ W.T)) <= 0)).T @ M


def _perceptron(bags: DataFrame, classes: tuple, dim: int, iters: int) -> DataFrame:
    """One-vs-rest full-batch integer perceptrons over ``bags`` = (_doc,
    label, vec): for class ci a doc has y = +1 iff its label =
    classes[ci], else -1. Per iteration every (doc, class) is scored
    against the integer weights and `_perceptron_step` adds the update of
    the misclassified docs. Rows with a NULL doc id are left out (the
    oracle's join on d never matches them). Returns (ci, bucket, weight),
    len(classes) x dim rows.

    At or below _TRAINER_SINGLE_TASK_CELLS the K steps run in one task.
    Above it, the bags are partitioned by doc id (so a document's rows
    meet) and each iteration is ONE job: every partition runs the step
    against the current weights and the driver sums the classes x dim
    partial updates (exact: the update is an integer sum over docs)."""
    bags = bags.filter(F.col("_doc").isNotNull()).localCheckpoint(eager=False)
    k = len(classes)
    W = np.zeros((k, dim), np.int64)

    def readout(W):
        return [(ci, b, int(W[ci, b])) for ci in range(k) for b in range(dim)]

    if bags.count() * dim <= _TRAINER_SINGLE_TASK_CELLS:

        def run(pdf):
            V = np.array(pdf["vec"].tolist(), dtype=np.int64).reshape(-1, dim)
            M, Y = _perceptron_docs(pdf["_doc"], pdf["label"], V, classes)
            w = W
            for _ in range(iters):
                w = w + _perceptron_step(M, Y, w)
            return readout(w)

        return _single_task(bags, run, "ci int, bucket int, weight long")
    parts = bags.repartition("_doc").localCheckpoint(eager=False)
    for _ in range(iters):

        def partial(batches, W=W):
            import pyarrow as pa

            got = list(batches)
            if got:
                t = pa.Table.from_batches(got)
                V = np.asarray(t["vec"].combine_chunks().flatten(), dtype=np.int64).reshape(-1, dim)
                upd = _perceptron_step(*_perceptron_docs(t["_doc"].to_pandas(), t["label"].to_pandas(), V, classes), W)
                yield pa.RecordBatch.from_arrays([pa.array([upd.ravel()], pa.list_(pa.int64()))], names=["upd"])

        W = W + sum(np.reshape(r[0], (k, dim)) for r in parts.mapInArrow(partial, "upd array<long>").collect())
    return bags.sparkSession.createDataFrame(readout(W), "ci int, bucket int, weight long")


def perceptron_train(
    df: DataFrame, label_expr: str, id_col: str = "doc_id",
    text_col: str = "text", dim: int = 32, iters: int = 4,
) -> DataFrame:
    """In-engine quality-classifier TRAINING (the learning half of the
    fastText-shape scorer, clf_score): a full-batch perceptron over hashed
    bag-of-words features, run as K deterministic iterations.
    INTEGER arithmetic throughout (counts, +-1 labels, integer weights), so
    unlike gradient descent there is no float accumulation to diverge
    across engines — the oracle unrolls the same K updates in SQL and must
    match bit-for-bit.

    The one-class case of `_perceptron` (y = +1 iff label_expr holds). The
    JVM hashes each token in-row (one array<int> per doc, no explode or
    shuffle) and `_hashed_bags` counts the hashes into a dim-long bag.
    Returns the learned (bucket, weight) table — dim rows."""
    hashes = f"transform({tokens_expr(text_col)}, tok -> CAST({portable_hash_expr('tok')} % {dim} AS INT))"
    bags = _hashed_bags(
        df.select(
            F.col(id_col).alias("_doc"), F.expr(label_expr).alias("label"), F.expr(hashes).alias("_h")
        ),
        "_h", dim,
    )
    return _perceptron(bags, (True,), dim, iters).select("bucket", "weight")


def perceptron_train_sql(
    table: str = "documents", label_expr: str = "lang = 'en'",
    id_col: str = "doc_id", text_col: str = "text", dim: int = 32, iters: int = 4,
) -> str:
    """DuckDB twin: the K updates unroll into chained CTEs (s{k} scores
    against w{k-1}, u{k} aggregates misclassified updates, w{k} adds them)."""
    t = tokens_sql(text_col)
    h = portable_hash_sql("tok")
    parts = [
        f"""
WITH toks AS (
  SELECT {id_col} AS d, CASE WHEN {label_expr} THEN 1 ELSE -1 END AS y,
         unnest({t}) AS tok
  FROM {table}),
feats AS (
  SELECT d, y, CAST({h} % {dim} AS INT) AS bucket, COUNT(*) AS cnt
  FROM toks GROUP BY ALL),
w0 AS (SELECT CAST(i AS INT) AS bucket, CAST(0 AS BIGINT) AS w
       FROM range({dim}) t(i))"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
s{k} AS (
  SELECT f.d, f.y, SUM(f.cnt * w.w) AS score
  FROM feats f JOIN w{k - 1} w USING (bucket) GROUP BY f.d, f.y),
u{k} AS (
  SELECT f.bucket, SUM(f.y * f.cnt) AS upd
  FROM feats f JOIN s{k} s ON f.d = s.d
  WHERE s.y * s.score <= 0 GROUP BY f.bucket),
w{k} AS (
  SELECT w.bucket, w.w + COALESCE(u.upd, 0) AS w
  FROM w{k - 1} w LEFT JOIN u{k} u USING (bucket))"""
        )
    return "".join(parts) + f"\nSELECT bucket, CAST(w AS BIGINT) AS weight FROM w{iters}"


# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer — Kudo 2018, "Subword
# Regularization". Production trainer structure: seed a large candidate
# vocabulary from substring counts, then alternate hard-EM rounds (E-step =
# Viterbi-best segmentation of every word under current piece probabilities,
# M-step = recount piece usage) with pruning down to the target vocabulary.
#
# Integer-exact variant (the bpe_learn discipline): the real algorithm
# maximizes sum(log p(piece)) = sum(log freq) - |seg| * log(TOT), which is
# float. We quantize log2 to integer bit-lengths — piece cost =
# bitlen(TOT) + 1 - bitlen(freq) (>= 1), unknown/unseen = bitlen(TOT) + 1 —
# and Viterbi minimizes (total_cost, n_pieces, seg) lexicographically, so
# every comparison is integers + ASCII strings and the DuckDB twin matches
# bit-for-bit (bitlen computed as length(bin(x)) in BOTH engines). The
# quantization keeps the objective's shape (frequent pieces cheap, every
# extra piece pays ~log TOT) while removing cross-engine float risk.
#
# Scale shape: the corpus compresses once to the distinct word-chunk relation
# with counts (one shuffle; 100 TB of text -> the word vocabulary, the same
# reduction bpe_learn rides); every EM pass is then one whole-stage-codegen
# DP fold per distinct chunk plus one map-side-combined recount agg —
# O(vocab), never O(corpus). The piece-cost table rides the DP expression as
# a map literal (bounded by the vocab_size contract, like perceptron_train's
# dim-sized weight vector); at production vocab sizes (>=10k pieces) the
# lookup becomes a broadcast join building a per-word cost array instead —
# see SCALING.md. Words longer than max_word are split into max_word-char
# windows up front (SentencePiece's own long-token escape hatch), bounding
# DP depth. Both routes run one EM schedule (`_unigram_em`); only the
# E-step differs: the JVM DP fold (`_unigram_segment`) or its Python twin
# (`_unigram_viterbi`) in the single task.
# ---------------------------------------------------------------------------


def _word_chunks(col: str, max_word: int) -> Column:
    """The max_word-char windows of word ``col``, exploded."""
    return F.explode(
        F.expr(f"transform(sequence(1, length({col}), {max_word}), s -> substring({col}, s, {max_word}))")
    )


def _unigram_chunks(df: DataFrame, text_col: str, max_word: int) -> DataFrame:
    """Corpus -> distinct word-chunk relation (word, cnt, wlen): the single
    corpus-scale pass. Words longer than max_word split into fixed windows."""
    return (
        df.select(F.explode(F.expr(tokens_expr(text_col))).alias("w"))
        .select(_word_chunks("w", max_word).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("wlen", F.length("word"))
    )


def _unigram_costs(vocab: dict[str, int]) -> tuple[dict[str, int], int]:
    """({piece: cost}, UNK cost) from a {piece: freq} vocab: cost =
    bitlen(TOT) + 1 - bitlen(freq), UNK = bitlen(TOT) + 1."""
    unk = sum(vocab.values()).bit_length() + 1
    return {p: unk - f.bit_length() for p, f in vocab.items()}, unk


def _unigram_cost_map(vocab: dict[str, int]) -> tuple[str, int]:
    """(map-literal SQL expr, UNK cost) of _unigram_costs; pieces are
    [a-z0-9]+ so quoting is safe."""
    cost, unk = _unigram_costs(vocab)
    items = ", ".join(f"'{p}', {c}" for p, c in sorted(cost.items()))
    return (f"map({items})" if items else "map('', 0)"), unk


def _unigram_segment(chunks: DataFrame, vocab: dict[str, int], max_piece: int) -> DataFrame:
    """E-step: Viterbi-best segmentation of every chunk under the current
    vocab — one JVM aggregate() fold per word (array_min over candidate
    structs; ordering = cost, n_pieces, seg lexicographic). Adds `seg`."""
    m, unk = _unigram_cost_map(vocab)
    dp = f"""
      element_at(aggregate(
        sequence(1, wlen),
        array(struct(0 as c, 0 as n, cast(array() as array<string>) as s)),
        (acc, i) -> concat(acc, array(array_min(transform(
          sequence(1, least(i, {max_piece})),
          k -> struct(
            element_at(acc, i - k + 1).c
              + coalesce(element_at({m}, substring(word, i - k + 1, k)), {unk}) as c,
            element_at(acc, i - k + 1).n + 1 as n,
            concat(element_at(acc, i - k + 1).s,
                   array(substring(word, i - k + 1, k))) as s)))))
      ), wlen + 1).s"""
    return chunks.withColumn("seg", F.expr(dp))


def _unigram_recount(segmented: DataFrame) -> dict[str, int]:
    """M-step: piece usage frequencies from the Viterbi segmentations.
    Collect is bounded by the vocab-size contract (<= seed vocab rows)."""
    rows = _weighted_freq(segmented, "seg", "piece").collect()
    return {r["piece"]: int(r["freq"]) for r in rows}


def _unigram_viterbi(word: str, cost: dict, unk: int, max_piece: int) -> list[str]:
    """Python twin of the _unigram_segment JVM DP fold: best (cost,
    n_pieces, seg) per prefix, candidates = the <= max_piece extensions,
    argmin by the same (c, n, s) lexicographic struct order (ASCII pieces,
    so Python tuple/list comparison == Spark struct/array ordering)."""
    best: list[tuple] = [(0, 0, [])]
    for i in range(1, len(word) + 1):
        cands = []
        for k in range(1, min(i, max_piece) + 1):
            c0, n0, s0 = best[i - k]
            piece = word[i - k : i]
            cands.append((c0 + cost.get(piece, unk), n0 + 1, s0 + [piece]))
        best.append(min(cands))
    return best[len(word)][2]


def _unigram_em(cand: dict[str, int], vocab_size: int, rounds: int, recount) -> dict[str, int]:
    """The EM schedule of both routes, from the seed candidates {piece:
    freq} (at least the char alphabet and the top 4 x vocab_size multi-char
    substrings): seed 4x target, then per round recount(vocab) -> {piece:
    usage} (Viterbi E-step + M-step) and prune the multi-char pieces
    linearly down to vocab_size by the last round; the char alphabet is never
    pruned (coverage floor, as in SentencePiece's required character set)."""
    seed_size = 4 * vocab_size
    chars = [p for p in cand if len(p) == 1]

    def keep(freq: dict, n: int) -> dict:
        vocab = {c: freq.get(c, 0) for c in chars}
        vocab.update(
            sorted(
                ((p, f) for p, f in freq.items() if len(p) > 1 and f > 0),
                key=lambda x: (-x[1], x[0]),
            )[:n]
        )
        return vocab

    vocab = keep(cand, seed_size)
    for r in range(1, rounds + 1):
        vocab = keep(recount(vocab), max(vocab_size, -(-seed_size * (rounds - r) // rounds)))
    return vocab


def _unigram_train(
    df: DataFrame, text_col: str, vocab_size: int, rounds: int,
    max_piece: int, max_word: int,
):
    """Shared trainer: returns (final vocab dict, chunks DF). At or below
    _TOKENIZER_SINGLE_TASK_WORDS chunks the whole EM runs in one task
    (`_single_task`, the Viterbi E-step in plain Python) and emits the final
    (piece, freq) vocab; the collect is bounded by the vocab-size contract —
    strictly less driver traffic than the per-round recount collects of the
    distributed route."""
    # lazy: the route count is the materializing action
    chunks = _unigram_chunks(df, text_col, max_word).localCheckpoint(eager=False)
    if chunks.count() <= _TOKENIZER_SINGLE_TASK_WORDS:

        def run(pdf):
            rows = list(zip(pdf["word"].tolist(), pdf["cnt"].tolist(), pdf["wlen"].tolist()))
            cand: dict = {}  # the seed candidates of the distributed route below
            for word, cnt, wlen in rows:
                for i in range(wlen):
                    for n in range(1, min(max_piece, wlen - i) + 1):
                        p = word[i : i + n]
                        cand[p] = cand.get(p, 0) + cnt

            def recount(vocab: dict) -> dict:
                cost, unk = _unigram_costs(vocab)
                re: dict = {}
                for word, cnt, _wlen in rows:
                    for piece in _unigram_viterbi(word, cost, unk, max_piece):
                        re[piece] = re.get(piece, 0) + cnt
                return re

            return list(_unigram_em(cand, vocab_size, rounds, recount).items())

        out = _single_task(chunks, run, "piece string, freq bigint").collect()
        return {r["piece"]: int(r["freq"]) for r in out}, chunks
    cand = _weighted_freq(
        chunks,
        F.expr(
            f"flatten(transform(sequence(1, wlen), i -> "
            f"transform(sequence(1, least({max_piece}, wlen - i + 1)), "
            f"k -> substring(word, i, k))))"
        ),
        "piece",
    )
    seed = {
        r["piece"]: int(r["freq"])
        for r in cand.filter(F.length("piece") == 1).collect()
    }
    seed.update(
        (r["piece"], int(r["freq"]))
        for r in cand.filter(F.length("piece") > 1)
        .orderBy(F.col("freq").desc(), "piece")
        .limit(4 * vocab_size)
        .collect()
    )
    vocab = _unigram_em(
        seed, vocab_size, rounds,
        lambda v: _unigram_recount(_unigram_segment(chunks, v, max_piece)),
    )
    return vocab, chunks


def unigram_learn(
    df: DataFrame, text_col: str = "text", vocab_size: int = 12,
    rounds: int = 2, max_piece: int = 4, max_word: int = 10,
) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (Kudo 2018): returns the learned
    vocabulary (piece, freq) — the char alphabet (freq-0 chars kept as the
    coverage floor) plus the top vocab_size multi-char pieces by final
    EM-round usage. Integer-exact: see module comment above."""
    vocab, _ = _unigram_train(df, text_col, vocab_size, rounds, max_piece, max_word)
    return df.sparkSession.createDataFrame(
        sorted(vocab.items()), "piece string, freq bigint"
    )


def unigram_encode(
    df: DataFrame, text_col: str = "text", vocab_size: int = 12,
    rounds: int = 2, max_piece: int = 4, max_word: int = 10,
) -> DataFrame:
    """Unigram-LM tokenizer APPLY: Viterbi-encode the corpus with the trained
    vocabulary and return the emitted token frequency table (token, freq) —
    one more E-step over the already-reduced chunk relation (O(vocab)), zero
    extra passes over raw text, exactly bpe_encode's shape."""
    vocab, chunks = _unigram_train(df, text_col, vocab_size, rounds, max_piece, max_word)
    return _weighted_freq(_unigram_segment(chunks, vocab, max_piece), "seg", "token")


def _unigram_chain_sql(
    table: str, text_col: str, vocab_size: int, rounds: int,
    max_piece: int, max_word: int, passes: int,
) -> str:
    """DuckDB twin of the trainer: the EM rounds unroll into chained CTEs and
    each round's Viterbi DP unrolls over word positions 1..max_word (d{p}_{i}
    = best (cost, n_pieces, seg) for each word's i-prefix, argmin via a
    window over the <=max_piece extension branches). Independent restatement:
    Spark folds the DP with aggregate()/array_min, the twin materializes it
    positionally — same integer costs, same (cost, np, seg) tie order."""
    seed_size = 4 * vocab_size
    parts = [
        f"""
WITH toks AS MATERIALIZED (SELECT unnest({tokens_sql(text_col)}) AS w FROM {table}),
chw AS MATERIALIZED (SELECT substr(w, CAST(s AS INT), {max_word}) AS word
        FROM toks, LATERAL unnest(range(1, length(w) + 1, {max_word})) u(s)),
chunks AS MATERIALIZED (SELECT word, COUNT(*) AS cnt, length(word) AS wlen FROM chw GROUP BY 1),
cand AS MATERIALIZED (SELECT substr(word, CAST(i AS INT), CAST(k AS INT)) AS piece, SUM(cnt) AS freq
         FROM chunks,
              LATERAL unnest(range(1, wlen + 1)) u(i),
              LATERAL unnest(range(1, {max_piece} + 1)) v(k)
         WHERE i + k - 1 <= wlen GROUP BY 1),
chars AS MATERIALIZED (SELECT piece FROM cand WHERE length(piece) = 1),
v1 AS MATERIALIZED (SELECT piece, CAST(freq AS BIGINT) AS freq FROM cand WHERE length(piece) = 1
       UNION ALL
       SELECT piece, CAST(freq AS BIGINT) AS freq FROM (
         SELECT piece, freq FROM cand WHERE length(piece) > 1
         ORDER BY freq DESC, piece LIMIT {seed_size}))"""
    ]
    for p in range(1, passes + 1):
        parts.append(
            f""",
t{p} AS MATERIALIZED (SELECT CASE WHEN COALESCE(SUM(freq), 0) <= 0 THEN 0
                     ELSE length(bin(CAST(SUM(freq) AS BIGINT))) END + 1 AS unk
         FROM v{p}),
c{p} AS MATERIALIZED (SELECT v.piece,
                t.unk - (CASE WHEN v.freq <= 0 THEN 0
                              ELSE length(bin(v.freq)) END) AS cost
         FROM v{p} v, t{p} t),
d{p}_0 AS MATERIALIZED (SELECT word, cnt, wlen, 0 AS cost, 0 AS np,
                  CAST([] AS VARCHAR[]) AS seg FROM chunks)"""
        )
        for i in range(1, max_word + 1):
            branches = []
            for k in range(1, min(max_piece, i) + 1):
                branches.append(
                    f"""
      SELECT d.word, d.cnt, d.wlen,
             d.cost + COALESCE(c.cost, t.unk) AS cost, d.np + 1 AS np,
             list_append(d.seg, substr(d.word, {i - k + 1}, {k})) AS seg
      FROM d{p}_{i - k} d CROSS JOIN t{p} t
      LEFT JOIN c{p} c ON c.piece = substr(d.word, {i - k + 1}, {k})
      WHERE d.wlen >= {i}"""
                )
            union = "\n      UNION ALL".join(branches)
            parts.append(
                f""",
d{p}_{i} AS MATERIALIZED (
  SELECT word, cnt, wlen, cost, np, seg FROM (
    SELECT *, row_number() OVER (PARTITION BY word ORDER BY cost, np, seg) AS rn
    FROM ({union})) WHERE rn = 1)"""
            )
        fin_union = "\n  UNION ALL ".join(
            f"SELECT word, cnt, seg FROM d{p}_{i} WHERE wlen = {i}"
            for i in range(1, max_word + 1)
        )
        parts.append(
            f""",
fin{p} AS MATERIALIZED ({fin_union}),
re{p} AS MATERIALIZED (SELECT u.piece, CAST(SUM(f.cnt) AS BIGINT) AS freq
          FROM fin{p} f, LATERAL unnest(f.seg) AS u(piece) GROUP BY 1)"""
        )
        if p < passes:
            keep = max(vocab_size, -(-seed_size * (rounds - p) // rounds)) if p < rounds else vocab_size
            parts.append(
                f""",
v{p + 1} AS MATERIALIZED (SELECT ch.piece, CAST(COALESCE(re.freq, 0) AS BIGINT) AS freq
             FROM chars ch LEFT JOIN re{p} re USING (piece)
             UNION ALL
             SELECT piece, freq FROM (
               SELECT piece, freq FROM re{p}
               WHERE length(piece) > 1 AND freq > 0
               ORDER BY freq DESC, piece LIMIT {keep}))"""
            )
    return "".join(parts)


def unigram_learn_sql(
    table: str = "documents", text_col: str = "text", vocab_size: int = 12,
    rounds: int = 2, max_piece: int = 4, max_word: int = 10,
) -> str:
    """DuckDB twin of unigram_learn: unroll `rounds` EM passes, emit the
    post-prune vocabulary after the last (chars at recounted freq incl. 0,
    plus top vocab_size multi-char pieces)."""
    chain = _unigram_chain_sql(
        table, text_col, vocab_size, rounds, max_piece, max_word, passes=rounds
    )
    p = rounds
    keep = vocab_size
    return (
        chain
        + f"""
SELECT ch.piece, CAST(COALESCE(re.freq, 0) AS BIGINT) AS freq
FROM chars ch LEFT JOIN re{p} re USING (piece)
UNION ALL
SELECT piece, freq FROM (
  SELECT piece, freq FROM re{p}
  WHERE length(piece) > 1 AND freq > 0
  ORDER BY freq DESC, piece LIMIT {keep})"""
    )


def unigram_encode_sql(
    table: str = "documents", text_col: str = "text", vocab_size: int = 12,
    rounds: int = 2, max_piece: int = 4, max_word: int = 10,
) -> str:
    """DuckDB twin of unigram_encode: the trainer chain plus one more Viterbi
    pass under the final vocabulary; emitted tokens with corpus counts."""
    chain = _unigram_chain_sql(
        table, text_col, vocab_size, rounds, max_piece, max_word, passes=rounds + 1
    )
    return chain + f"\nSELECT piece AS token, freq FROM re{rounds + 1}"


# ---------------------------------------------------------------------------
# In-engine language-ID TRAINING — fastText's architecture (Joulin et al.
# 2016, "Bag of Tricks for Efficient Text Classification"): a linear
# classifier over hashed character n-gram features, trained one-vs-rest per
# language by `_perceptron`, the trainer perceptron_train runs with one class:
# counts, +-1 labels and integer weights only, so the DuckDB twin's unrolled
# update chain matches bit-for-bit. Training and scoring share one feature
# builder, `_hashed_bags`: the JVM normalizes the text to ASCII and the
# Arrow kernel folds its char n-grams straight off the batch's byte buffer,
# because one substring + fold per position in the JVM costs ~10x the
# training itself. The heuristic lang_id_expr stays as the zero-shot
# fallback; langid_score applies a trained table.
# ---------------------------------------------------------------------------


def langid_train(
    df: DataFrame, langs: tuple[str, ...], id_col: str = "doc_id",
    label_col: str = "lang", text_col: str = "text",
    n: int = 3, dim: int = 64, iters: int = 3,
) -> DataFrame:
    """Multiclass one-vs-rest integer perceptrons over hashed char n-grams:
    for each language c, y = +1 iff lang = c, then `iters` full-batch
    perceptron updates (score docs against the dim-integer weight vector;
    add sum(y*cnt) per bucket over misclassified docs). Returns the
    trained (lang, bucket, weight) table — len(langs) x dim rows.

    Scale shape: the JVM normalizes the text, `_hashed_bags` folds its char
    n-grams into a dim-long bag per doc in one Arrow pass, and all classes
    train together in `_perceptron`. The per-class arithmetic is the
    unrolled DuckDB twin's, so the weights match bit-exact. Classes are a
    user-supplied tuple (a model hyperparameter, like dim) so the oracle can
    unroll them."""
    bags = _hashed_bags(
        df.select(
            F.col(id_col).alias("_doc"),
            F.col(label_col).alias("label"),
            F.expr(norm_text_expr(text_col)).alias("_nt"),
        ),
        "_nt", dim, n,
    )
    w = _perceptron(bags, tuple(langs), dim, iters)
    return w.select(
        F.element_at(F.array(*[F.lit(c) for c in langs]), F.col("ci") + 1).alias("lang"),
        "bucket",
        "weight",
    )


def langid_score(
    df: DataFrame, weights: DataFrame, id_col: str = "doc_id",
    text_col: str = "text", n: int = 3, dim: int = 64,
) -> DataFrame:
    """Apply a trained langid table: score every document against every
    class, argmax with deterministic (score desc, lang asc) tie-break; docs
    with no features (or all scores <= 0) and rows with a NULL id predict
    'unknown' — mirroring lang_id_expr's contract. Returns (doc_id,
    pred_lang), one row per input row.

    The model, len(langs) x dim rows, is collected to the driver (the size
    of the literal langid_fixture_weights describes) and rides the task
    closure; each batch is scored as ``bags @ W.T`` inside `_hashed_bags`,
    with no join, shuffle or window. A row is scored on its own text, so
    the input's id column is expected to be a key (langid_score_sql merges
    the text of rows that share an id)."""
    model = [r for r in weights.collect() if None not in (r["lang"], r["bucket"], r["weight"])]
    langs = sorted({r["lang"] for r in model})
    # row 0 is 'unknown' at score 0: argmax takes the first maximum, so it
    # wins unless some lang scores > 0, and ties go to the lower lang
    W = np.zeros((len(langs) + 1, dim), dtype=np.int64)
    for r in model:
        if 0 <= r["bucket"] < dim:
            W[langs.index(r["lang"]) + 1, r["bucket"]] += r["weight"]
    names = np.array(["unknown", *langs], dtype=object)

    def emit(batch, M):
        import pyarrow as pa

        pick = np.argmax(M @ W.T, axis=1)
        pick[np.asarray(batch.column(id_col).is_null())] = 0
        return [pa.array(names[pick], pa.string())]

    return _hashed_bags(
        df.select(id_col, F.expr(norm_text_expr(text_col)).alias("_nt")),
        "_nt", dim, n, emit, "pred_lang string",
    )


def langid_fixture_weights(
    spark, langs: tuple[str, ...], dim: int = 64
) -> DataFrame:
    """Deterministic stand-in for a persisted trained langid model: weight
    (lang ci, bucket b) = ((b + 1) * (7 * ci + 3)) % 17 - 8 — a closed-form
    both engines compute exactly, serving the apply path the way the
    ann_*_index gates serve a built index. len(langs) x dim rows, a
    driver-side literal like any loaded model checkpoint."""
    rows = [
        (c, b, ((b + 1) * (7 * ci + 3)) % 17 - 8)
        for ci, c in enumerate(langs)
        for b in range(dim)
    ]
    return spark.createDataFrame(rows, "lang string, bucket int, weight long")


def langid_fixture_weights_sql(langs: tuple[str, ...], dim: int = 64) -> str:
    """DuckDB twin of langid_fixture_weights (a single CTE body)."""
    selects = [
        f"SELECT '{c}' AS lang, CAST(i AS INT) AS bucket, "
        f"CAST((i + 1) * {7 * ci + 3} % 17 - 8 AS BIGINT) AS weight "
        f"FROM range({dim}) t(i)"
        for ci, c in enumerate(langs)
    ]
    return "\nUNION ALL\n".join(selects)


def langid_score_sql(
    table: str = "documents", langs: tuple[str, ...] = (),
    id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, dim: int = 64,
) -> str:
    """DuckDB twin of langid_score over the fixture model: the same score /
    argmax (score desc, lang asc) / 'unknown'-fallback chain as
    langid_apply_sql, minus the training CTEs."""
    nt = norm_text_sql(text_col)
    h = portable_hash_sql("g")
    return f"""
WITH normed AS (SELECT {id_col} AS d, {nt} AS _nt FROM {table}),
grams AS (SELECT d, unnest({shingles_sql('_nt', n)}) AS g FROM normed),
feats AS (SELECT d, CAST({h} % {dim} AS INT) AS bucket, COUNT(*) AS cnt
          FROM grams GROUP BY ALL),
wall AS ({langid_fixture_weights_sql(langs, dim)}),
sc AS (SELECT f.d, w.lang, SUM(f.cnt * w.weight) AS score
       FROM feats f JOIN wall w USING (bucket) GROUP BY ALL),
pr AS (SELECT d, CASE WHEN score > 0 THEN lang ELSE 'unknown' END AS pred_lang,
              row_number() OVER (PARTITION BY d ORDER BY score DESC, lang) AS rn
       FROM sc)
SELECT t.{id_col}, COALESCE(p.pred_lang, 'unknown') AS pred_lang
FROM {table} t LEFT JOIN (SELECT d, pred_lang FROM pr WHERE rn = 1) p ON t.{id_col} = p.d"""


def langid_train_sql(
    table: str = "documents", langs: tuple[str, ...] = (),
    id_col: str = "doc_id", label_col: str = "lang", text_col: str = "text",
    n: int = 3, dim: int = 64, iters: int = 3,
) -> str:
    """DuckDB twin: one shared feature CTE, then per class the same unrolled
    score/update/weight chain as perceptron_train_sql; classes UNION ALL at
    the end."""
    chain, union = _langid_chain_sql(table, langs, id_col, label_col, text_col, n, dim, iters)
    return chain + "\n" + union


def langid_apply_sql(
    table: str = "documents", langs: tuple[str, ...] = (),
    id_col: str = "doc_id", label_col: str = "lang", text_col: str = "text",
    n: int = 3, dim: int = 64, iters: int = 3,
) -> str:
    """DuckDB twin of train-then-langid_score: the training chain, then score
    every document against every class and argmax (score desc, lang asc);
    no-feature or non-positive-best docs fall back to 'unknown'."""
    chain, union = _langid_chain_sql(table, langs, id_col, label_col, text_col, n, dim, iters)
    return (
        chain
        + f""",
wall AS ({union}),
sc AS (SELECT f.d, w.lang, SUM(f.cnt * w.weight) AS score
       FROM feats f JOIN wall w USING (bucket) GROUP BY ALL),
pr AS (SELECT d, CASE WHEN score > 0 THEN lang ELSE 'unknown' END AS pred_lang,
              row_number() OVER (PARTITION BY d ORDER BY score DESC, lang) AS rn
       FROM sc)
SELECT t.{id_col}, COALESCE(p.pred_lang, 'unknown') AS pred_lang
FROM {table} t LEFT JOIN (SELECT d, pred_lang FROM pr WHERE rn = 1) p ON t.{id_col} = p.d"""
    )


def _langid_chain_sql(
    table: str, langs: tuple[str, ...], id_col: str, label_col: str,
    text_col: str, n: int, dim: int, iters: int,
) -> tuple[str, str]:
    nt = norm_text_sql(text_col)
    h = portable_hash_sql("g")
    parts = [
        f"""
WITH normed AS (SELECT {id_col} AS d, {label_col} AS lang, {nt} AS _nt FROM {table}),
grams AS (SELECT d, lang, unnest({shingles_sql('_nt', n)}) AS g FROM normed),
feats AS MATERIALIZED (
  SELECT d, lang, CAST({h} % {dim} AS INT) AS bucket, COUNT(*) AS cnt
  FROM grams GROUP BY ALL),
winit AS (SELECT CAST(i AS INT) AS bucket, CAST(0 AS BIGINT) AS w FROM range({dim}) t(i))"""
    ]
    for ci, c in enumerate(langs):
        prev = "winit"
        for k in range(1, iters + 1):
            parts.append(
                f""",
s{ci}_{k} AS MATERIALIZED (
  SELECT f.d, CASE WHEN f.lang = '{c}' THEN 1 ELSE -1 END AS y, SUM(f.cnt * w.w) AS score
  FROM feats f JOIN {prev} w USING (bucket) GROUP BY ALL),
u{ci}_{k} AS (
  SELECT f.bucket, SUM(CASE WHEN f.lang = '{c}' THEN 1 ELSE -1 END * f.cnt) AS upd
  FROM feats f JOIN s{ci}_{k} s ON f.d = s.d
  WHERE s.y * s.score <= 0 GROUP BY f.bucket),
w{ci}_{k} AS MATERIALIZED (
  SELECT w.bucket, w.w + COALESCE(u.upd, 0) AS w
  FROM {prev} w LEFT JOIN u{ci}_{k} u USING (bucket))"""
            )
            prev = f"w{ci}_{k}"
    union = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS lang, bucket, CAST(w AS BIGINT) AS weight FROM w{ci}_{iters}"
        for ci, c in enumerate(langs)
    )
    return "".join(parts), union


# ---------------------------------------------------------------------------
# WordPiece tokenizer — Schuster & Nakajima 2012 ("Japanese and Korean voice
# search"), the BERT tokenizer family; training loop as published in the
# Hugging Face tokenizers documentation: BPE's agglomerative structure but
# the merged pair maximizes LIKELIHOOD GAIN, score = freq(pair) /
# (freq(left) * freq(right)), and non-word-initial symbols carry the '##'
# continuation prefix. Encoding is greedy longest-match-first with
# whole-word [UNK] fallback.
#
# Integer-exact discipline: the rational score comparison is quantized to
# fixed point — score_q = (freq(pair) * 10^8) DIV (freq(left) * freq(right))
# in pure BIGINT arithmetic (exact in both engines; ties after quantization
# break lexicographically on the pair). Exact for corpora with symbol
# frequencies below ~9x10^10 (10^8-scaled numerator must fit int64); past
# that bound the Spark side raise_error()s inside the score expression
# (r11 — previously Spark would wrap while DuckDB raised, a silent
# divergence); at larger scales swap the scale constant down or the
# arithmetic to DECIMAL(38,0)/HUGEINT.
#
# Scale shape: bpe_learn's merge loop (`_train_merges`) with WordPiece's own
# symbol split, score and merged symbol — corpus compresses once to the
# weighted distinct-word relation, each merge step is one map-side-combined
# pair-count agg + symbol-count agg with only the winning pair crossing to
# the driver; encode adds one greedy fold pass + one hash agg (O(vocab)).
# ---------------------------------------------------------------------------

WORDPIECE_SCALE = 100_000_000  # 10^8 fixed-point score quantum
WORDPIECE_UNK = "[UNK]"


def _wordpiece_syms(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus -> weighted distinct-word relation with the initial WordPiece
    symbol split: first char bare, every later char '##'-prefixed."""
    return _word_counts(df, text_col).select(
        "word",
        "cnt",
        F.expr(
            "transform(sequence(1, length(word)), "
            "i -> IF(i = 1, substring(word, 1, 1), concat('##', substring(word, i, 1))))"
        ).alias("syms"),
    )


def _wordpiece_join(a: str, b: str) -> str:
    """The merged symbol: a || b with b's '##' continuation prefix stripped."""
    return a + (b[2:] if b.startswith("##") else b)


# The fixed-point score is exact while pf * SCALE and fa * fb fit int64.
_WP_MAX_PAIR = 9223372036854775807 // WORDPIECE_SCALE
_WP_MAX_SYM = 3037000499
_WP_RANGE_ERROR = (
    "wordpiece_learn: symbol frequency exceeds the int64-exact fixed-point "
    "range; lower WORDPIECE_SCALE or switch score_q to DECIMAL(38,0)"
)


def _wordpiece_score(syms: DataFrame, pairs: DataFrame) -> DataFrame:
    """(a, b, freq, score): the 10^8 fixed-point likelihood score
    freq * SCALE div (fa * fb), fa / fb = the cnt-weighted symbol
    frequencies (one more hash agg, joined to both pair sides)."""
    symfreq = _weighted_freq(syms, "syms", "s", "f")
    return (
        pairs.join(symfreq.select(F.col("s").alias("a"), F.col("f").alias("fa")), "a")
        .join(symfreq.select(F.col("s").alias("b"), F.col("f").alias("fb")), "b")
        .select(
            "a", "b", "freq",
            # ADVICE r10: Spark's non-ANSI bigint arithmetic would WRAP
            # silently past int64 while the DuckDB twin raises — guard
            # the exact fixed-point range loudly so both engines fail
            # the same way (pf*10^8 and fa*fb must each fit int64)
            F.expr(
                f"CASE WHEN freq > {_WP_MAX_PAIR}"
                f" OR fa > {_WP_MAX_SYM} OR fb > {_WP_MAX_SYM}"
                f" THEN raise_error('{_WP_RANGE_ERROR}')"
                f" ELSE (freq * {WORDPIECE_SCALE}) div (fa * fb) END"
            ).alias("score"),
        )
    )


def _wordpiece_score_local(syms: list[tuple], freq: dict) -> dict:
    """Python twin of _wordpiece_score, with the SAME loud range guard."""
    sf: dict = {}
    for _w, c, s in syms:
        for x in s:
            sf[x] = sf.get(x, 0) + c
    scores = {}
    for (a, b), f in freq.items():
        fa, fb = sf[a], sf[b]
        if f > _WP_MAX_PAIR or fa > _WP_MAX_SYM or fb > _WP_MAX_SYM:
            raise RuntimeError(_WP_RANGE_ERROR)
        scores[(a, b)] = (f * WORDPIECE_SCALE) // (fa * fb)
    return scores


def _wordpiece_train(df: DataFrame, text_col: str, k: int):
    """WordPiece's merge loop (_train_merges): '##' symbol split, the
    fixed-point likelihood score, '##'-stripping merged symbol. Returns
    (merges, final per-word symbol relation); a merge is (step, a, b, freq,
    score_q)."""
    return _train_merges(
        _wordpiece_syms(df, text_col), k, _wordpiece_join, _wordpiece_score,
        _wordpiece_score_local,
    )


def wordpiece_learn(df: DataFrame, text_col: str = "text", k: int = 6) -> DataFrame:
    """WordPiece tokenizer TRAINING: K deterministic likelihood-gain merges.
    Returns the merge table (step, left_sym, right_sym, freq, score_q) —
    score_q is the 10^8-fixed-point likelihood score the winner was chosen
    by, recorded so the selection criterion is auditable."""
    merges, _ = _wordpiece_train(df, text_col, k)
    return df.sparkSession.createDataFrame(
        merges, "step int, left_sym string, right_sym string, freq bigint, score_q bigint"
    )


def wordpiece_encode(
    df: DataFrame, text_col: str = "text", k: int = 6,
    train_df: DataFrame | None = None,
) -> DataFrame:
    """WordPiece tokenizer APPLY — greedy longest-match-first against the
    trained vocabulary (initial alphabet + one token per merge, the
    published construction), '##' continuation matching after position 1,
    and BERT's whole-word [UNK] fallback when any position has no match.
    Trains on `train_df` when given (the production apply-to-new-corpus
    shape — that is where [UNK] becomes reachable, since self-encoding
    always has its own alphabet in vocabulary), else self-trains on `df`.
    Returns (token, freq).

    Plan shape: the vocabulary is driver-built from the merge list (bounded
    by k + alphabet, the bpe-winner contract) and rides the greedy fold as
    two membership sets; per distinct word ONE whole-stage-codegen pass
    precomputes the longest-match length at every position, a second fold
    walks them greedily; then one exploded hash agg. No second pass over
    raw text."""
    merges, _ = _wordpiece_train(train_df if train_df is not None else df, text_col, k)
    trained = _wordpiece_syms(train_df if train_df is not None else df, text_col)
    init = trained if train_df is None else _wordpiece_syms(df, text_col)
    vocab = {r["s"] for r in trained.select(F.explode("syms").alias("s")).distinct().collect()}
    for _, a, b, _, _ in merges:
        vocab.add(_wordpiece_join(a, b))
    raw = sorted(v for v in vocab if not v.startswith("##"))
    cont = sorted(v[2:] for v in vocab if v.startswith("##"))
    max_len = max((len(v) for v in raw + cont), default=1)

    def inlist(vs: list[str]) -> str:
        return ", ".join("'" + v.replace("'", "''") + "'" for v in vs) or "''"

    # pass 1: bestk[i] = longest vocab match starting at i (raw set at the
    # word start, '##'-continuation set after), NULL when nothing matches
    bestk = f"""
      transform(sequence(1, length(word)), i ->
        array_max(filter(transform(
          sequence(1, least({max_len}, length(word) - i + 1)),
          k -> IF(IF(i = 1, substring(word, i, k) IN ({inlist(raw)}),
                     substring(word, i, k) IN ({inlist(cont)})), k, cast(null as int))),
          x -> x is not null)))"""
    # pass 2: greedy walk — only the step where pos == i consumes; a NULL
    # bestk at a consuming position poisons the word to [UNK]
    dp = f"""
      aggregate(
        sequence(1, length(word)),
        struct(1 as pos, cast(array() as array<string>) as toks, false as unk),
        (acc, i) -> IF(acc.unk OR acc.pos <> i, acc,
          IF(element_at(bk, i) IS NULL,
             named_struct('pos', acc.pos, 'toks', acc.toks, 'unk', true),
             named_struct(
               'pos', acc.pos + element_at(bk, i),
               'toks', concat(acc.toks, array(
                 IF(i = 1, '', '##') || substring(word, i, element_at(bk, i)))),
               'unk', false))),
        acc -> IF(acc.unk, array('{WORDPIECE_UNK}'), acc.toks))"""
    return _weighted_freq(init.withColumn("bk", F.expr(bestk)), F.expr(dp), "token")


def _wordpiece_chain_sql(table: str, text_col: str, k: int) -> str:
    """DuckDB twin of the K-merge WordPiece trainer: bpe's unrolled CTE
    chain, but each step adds a symbol-frequency CTE and the winner is the
    max 10^8-fixed-point likelihood score (pf*SCALE // (fa*fb)), ties
    lexicographic — the same pure-BIGINT arithmetic as the Spark side.
    Like the bpe twin, assumes the corpus has >= k mergeable pairs (a p{s}
    going empty would empty the chain — gate corpora are far past that)."""
    parts = [
        f"""
WITH w AS (SELECT unnest({tokens_sql(text_col)}) AS word FROM {table}),
wc AS MATERIALIZED (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
it0 AS MATERIALIZED (SELECT word, cnt,
            list_transform(range(1, length(word) + 1),
                           i -> CASE WHEN i = 1 THEN word[1:1]
                                     ELSE '##' || word[CAST(i AS INT):CAST(i AS INT)] END) AS syms
        FROM wc)"""
    ]
    for s in range(k):
        parts.append(
            f""",
sf{s} AS MATERIALIZED (
  SELECT u.sym, CAST(SUM(cnt) AS BIGINT) AS f
  FROM it{s}, LATERAL unnest(syms) AS u(sym) GROUP BY 1),
pf{s} AS (
  SELECT syms[i] AS a, syms[i + 1] AS b, CAST(SUM(cnt) AS BIGINT) AS pf
  FROM it{s}, LATERAL unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2),
p{s} AS MATERIALIZED (
  SELECT a, b, pf, (pf * {WORDPIECE_SCALE}) // (fa.f * fb.f) AS score_q
  FROM pf{s}
  JOIN sf{s} fa ON fa.sym = pf{s}.a
  JOIN sf{s} fb ON fb.sym = pf{s}.b
  ORDER BY score_q DESC, a, b LIMIT 1),
it{s + 1} AS MATERIALIZED (
  SELECT word, cnt,
    list_reduce(list_transform(syms, e -> [e]),
      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = p{s}.a AND x[1] = p{s}.b
                  THEN acc[1:len(acc) - 1] ||
                       [p{s}.a || (CASE WHEN p{s}.b LIKE '##%' THEN p{s}.b[3:]
                                        ELSE p{s}.b END)]
                  ELSE acc || x END) AS syms
  FROM it{s}, p{s})"""
        )
    return "".join(parts)


def wordpiece_learn_sql(table: str = "documents", text_col: str = "text", k: int = 6) -> str:
    """DuckDB twin of wordpiece_learn: the unrolled chain, merge rows out."""
    union = "\nUNION ALL\n".join(
        f"SELECT {s + 1} AS step, a AS left_sym, b AS right_sym, pf AS freq,"
        f" CAST(score_q AS BIGINT) AS score_q FROM p{s}"
        for s in range(k)
    )
    return _wordpiece_chain_sql(table, text_col, k) + "\n" + union


def wordpiece_encode_sql(table: str = "documents", text_col: str = "text", k: int = 6) -> str:
    """DuckDB twin of wordpiece_encode: vocabulary = initial alphabet + one
    token per merge; per word a longest-match table at every position, then
    the greedy cursor fold (list_reduce over an init-prepended state list),
    whole-word [UNK] on any gap."""
    prods = "\nUNION\n".join(
        f"SELECT a || (CASE WHEN b LIKE '##%' THEN b[3:] ELSE b END) AS piece FROM p{s}"
        for s in range(k)
    )
    return (
        _wordpiece_chain_sql(table, text_col, k)
        + f""",
al AS (SELECT DISTINCT CASE WHEN i = 1 THEN word[1:1]
                            ELSE '##' || word[CAST(i AS INT):CAST(i AS INT)] END AS piece
       FROM wc, LATERAL unnest(range(1, length(word) + 1)) u(i)),
voc AS MATERIALIZED (SELECT piece FROM al UNION {prods}),
vraw AS MATERIALIZED (SELECT piece FROM voc WHERE piece NOT LIKE '##%'),
vcont AS MATERIALIZED (SELECT piece[3:] AS piece FROM voc WHERE piece LIKE '##%'),
ml AS (SELECT GREATEST(
         (SELECT COALESCE(MAX(length(piece)), 1) FROM vraw),
         (SELECT COALESCE(MAX(length(piece)), 1) FROM vcont)) AS m),
mt AS MATERIALIZED (
  SELECT wc.word, CAST(i AS INT) AS i, MAX(CAST(k AS INT)) AS bk
  FROM wc, ml,
       LATERAL unnest(range(1, length(word) + 1)) u(i),
       LATERAL unnest(range(1, ml.m + 1)) v(k)
  WHERE i + k - 1 <= length(word)
    AND ((i = 1 AND substr(word, CAST(i AS INT), CAST(k AS INT)) IN (SELECT piece FROM vraw))
      OR (i > 1 AND substr(word, CAST(i AS INT), CAST(k AS INT)) IN (SELECT piece FROM vcont)))
  GROUP BY 1, 2),
bk AS MATERIALIZED (
  SELECT wc.word, wc.cnt, list(mt.bk ORDER BY u.i) AS bks
  FROM wc
  LEFT JOIN LATERAL unnest(range(1, length(wc.word) + 1)) u(i) ON true
  LEFT JOIN mt ON mt.word = wc.word AND mt.i = u.i
  GROUP BY 1, 2),
seg AS MATERIALIZED (
  SELECT word, cnt,
    -- flat VARCHAR[] state [cursor, unk_flag, tok...]: DuckDB 1.0's
    -- list_reduce drops appends when the accumulator is a STRUCT holding a
    -- list (verified minimal repro), so the greedy cursor folds over the
    -- same plain-list shape the bpe twin uses
    list_reduce(
      [['1', '0']] ||
      list_transform(range(1, length(word) + 1), i -> [CAST(i AS VARCHAR)]),
      (acc, x) -> CASE
        WHEN acc[2] = '1' OR acc[1] <> x[1] THEN acc
        WHEN bks[CAST(x[1] AS INT)] IS NULL THEN [acc[1], '1'] || acc[3:]
        ELSE [CAST(CAST(acc[1] AS INT) + bks[CAST(x[1] AS INT)] AS VARCHAR), '0']
             || acc[3:]
             || [(CASE WHEN x[1] = '1' THEN '' ELSE '##' END)
                 || substr(word, CAST(x[1] AS INT), bks[CAST(x[1] AS INT)])]
        END) AS st
  FROM bk),
toks AS (
  SELECT cnt, u.token
  FROM seg, LATERAL unnest(CASE WHEN st[2] = '1' THEN ['{WORDPIECE_UNK}'] ELSE st[3:] END) AS u(token))
SELECT token, CAST(SUM(cnt) AS BIGINT) AS freq FROM toks GROUP BY token"""
    )


def unigram_doc_tokens(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    vocab_size: int = 12, rounds: int = 2, max_piece: int = 4, max_word: int = 10,
) -> DataFrame:
    """Per-DOCUMENT token counts under the TRAINED unigram tokenizer — the
    budgeting/packing input (token_mix, sequence_packing, data cards count
    tokens; a production pipeline counts them with its real tokenizer, not
    whitespace). Returns (doc_id, n_tokens), 0 for token-less docs.

    Plan shape: training reduces the corpus to the chunk relation as usual;
    the per-doc readout is ONE extra pass — explode (doc, chunk), equi-join
    the segmented relation's (word -> piece count) map, one hash agg. The
    join's right side is the chunk vocabulary (Heaps-law bounded; broadcast
    at gate scale, shuffle equi-join beyond)."""
    vocab, chunks = _unigram_train(df, text_col, vocab_size, rounds, max_piece, max_word)
    sizes = _unigram_segment(chunks, vocab, max_piece).select(
        "word", F.size("seg").alias("_n")
    )
    dw = df.select(F.col(id_col), F.explode(F.expr(tokens_expr(text_col))).alias("w")).select(
        id_col, _word_chunks("w", max_word).alias("word")
    )
    counts = (
        dw.join(sizes, "word")
        .groupBy(id_col)
        .agg(F.sum("_n").alias("n_tokens"))
    )
    return (
        df.select(id_col)
        .join(counts, id_col, "left")
        .select(id_col, F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"))
    )


def unigram_doc_tokens_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id",
    vocab_size: int = 12, rounds: int = 2, max_piece: int = 4, max_word: int = 10,
) -> str:
    """DuckDB twin: the encode chain's final segmented relation joined back
    to per-document chunks."""
    chain = _unigram_chain_sql(
        table, text_col, vocab_size, rounds, max_piece, max_word, passes=rounds + 1
    )
    p = rounds + 1
    return (
        chain
        + f""",
sizes AS MATERIALIZED (SELECT word, len(seg) AS n FROM fin{p}),
dtoks AS (SELECT {id_col}, unnest({tokens_sql(text_col)}) AS w FROM {table}),
dw AS (SELECT {id_col}, substr(w, CAST(s AS INT), {max_word}) AS word
       FROM dtoks, LATERAL unnest(range(1, length(w) + 1, {max_word})) u(s)),
cnts AS (SELECT d.{id_col}, SUM(s.n) AS n_tokens
         FROM dw d JOIN sizes s USING (word) GROUP BY 1)
SELECT t.{id_col}, CAST(COALESCE(c.n_tokens, 0) AS BIGINT) AS n_tokens
FROM {table} t LEFT JOIN cnts c ON t.{id_col} = c.{id_col}"""
    )


# ---------------------------------------------------------------------------
# C4 cleaning rules (Raffel et al. 2020, "Exploring the Limits of Transfer
# Learning with a Unified Text-to-Text Transformer", JMLR — §2.2)
# ---------------------------------------------------------------------------

# The paper filters against an external profanity list; the engine takes the
# list as a parameter and ships a neutral stand-in default so the RULE is
# testable without vendoring that list.
C4_BADWORDS = ("xxxspamxxx",)


def _c4_counts_exprs(col: str, badwords: tuple[str, ...]) -> dict[str, str]:
    """Shared Spark-SQL count expressions for the C4 rule bundle. Line keep =
    ends in terminal punctuation (. ! ? \") AND >= 5 words AND no
    'javascript' (all from §2.2); doc drop = '{' anywhere (code), 'lorem
    ipsum', a bad word, or < 5 sentences in the CLEANED text (sentences
    counted as terminal punctuation marks). Every output is an integer or a
    boolean on exact string ops — bit-exact cross-engine."""
    lines = f"split({col}, '\\n')"
    keepf = (
        "x -> trim(x) rlike '[.!?\"]$' AND "
        "size(filter(split(trim(x), '\\\\s+'), w -> w != '')) >= 5 AND "
        "NOT contains(lower(x), 'javascript')"
    )
    kept = f"filter({lines}, {keepf})"
    cleaned = f"array_join({kept}, '\\n')"
    bad = " OR ".join(f"contains(lower({col}), '{w}')" for w in badwords) or "false"
    return {
        "n_lines": f"size({lines})",
        "n_kept": f"size({kept})",
        "kept_chars": f"length({cleaned})",
        "n_sentences": (
            f"length({cleaned}) - length(translate({cleaned}, '.!?', ''))"
        ),
        "has_brace": f"contains({col}, '{{')",
        "has_lorem": f"contains(lower({col}), 'lorem ipsum')",
        "has_badword": f"({bad})",
    }


def c4_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    badwords: tuple[str, ...] = C4_BADWORDS,
) -> DataFrame:
    """C4 cleaning (Raffel et al. 2020 §2.2) as one pure-JVM projection:
    line-level cleaning (terminal punctuation, >= 5 words, no 'javascript')
    and page-level drops ('{', 'lorem ipsum', bad words, < 5 sentences after
    cleaning). Returns per-doc rule booleans + integer counts and the final
    keep verdict; the three-sentence-span dedup half of C4 is span_dedup.
    Scale: embarrassingly parallel per document, no shuffle, scan prunes to
    (id, text)."""
    c = _c4_counts_exprs(col, badwords)
    counted = df.select(F.col(id_col), *[F.expr(e).alias(n) for n, e in c.items()])
    return counted.select(
        id_col,
        "n_lines",
        "n_kept",
        "kept_chars",
        "n_sentences",
        (~F.col("has_brace")).alias("r_brace"),
        (~F.col("has_lorem")).alias("r_lorem"),
        (~F.col("has_badword")).alias("r_badword"),
        (F.col("n_sentences") >= 5).alias("r_sentences"),
    ).withColumn(
        "keep", F.expr("r_brace AND r_lorem AND r_badword AND r_sentences")
    )


def c4_rules_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    col: str = "text",
    badwords: tuple[str, ...] = C4_BADWORDS,
) -> str:
    """DuckDB twin of c4_rules (same exact string ops and counts)."""
    lines = f"string_split({col}, chr(10))"
    keepf = (
        "x -> regexp_matches(trim(x), '[.!?\"]$') AND "
        "len(list_filter(regexp_split_to_array(trim(x), '\\s+'), w -> w <> '')) >= 5 "
        "AND NOT contains(lower(x), 'javascript')"
    )
    kept = f"list_filter({lines}, {keepf})"
    cleaned = f"array_to_string({kept}, chr(10))"
    bad = " OR ".join(f"contains(lower({col}), '{w}')" for w in badwords) or "false"
    return f"""
WITH counted AS (
  SELECT {id_col},
         CAST(len({lines}) AS INT) AS n_lines,
         CAST(len({kept}) AS INT) AS n_kept,
         CAST(length({cleaned}) AS INT) AS kept_chars,
         CAST(length({cleaned}) - length(translate({cleaned}, '.!?', '')) AS INT)
           AS n_sentences,
         contains({col}, '{{') AS has_brace,
         contains(lower({col}), 'lorem ipsum') AS has_lorem,
         ({bad}) AS has_badword
  FROM {table})
SELECT {id_col}, n_lines, n_kept, kept_chars, n_sentences,
       NOT has_brace AS r_brace,
       NOT has_lorem AS r_lorem,
       NOT has_badword AS r_badword,
       n_sentences >= 5 AS r_sentences,
       NOT has_brace AND NOT has_lorem AND NOT has_badword
         AND n_sentences >= 5 AS keep
FROM counted
"""
