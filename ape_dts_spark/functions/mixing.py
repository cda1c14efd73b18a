"""Training-data mixing operators: exact stratified quotas + sequence packing.

Neither exists in the reference (it moves rows, it doesn't curate corpora);
these are the BASELINE.json training-pipeline extensions a 100-TB data
engine needs between dedup/quality-filtering and tokenization:

- ``stratified_quota``: exact per-group sample quotas (e.g. "200 docs per
  language", "rebalance sources to a target mix"). ``df.sampleBy`` is
  probabilistic — quota hits are approximate; training-data mixing wants
  *exact* counts with *deterministic* membership. Selection key: each doc is
  ranked inside its group by the portable 31-polynomial hash of its id (a
  deterministic pseudo-random order reproducible in any engine), and the
  first ``quota`` ranks win.
- ``sequence_packing``: greedy document concatenation into fixed token-budget
  training sequences. A single global greedy pack is inherently serial, so
  the operator packs per shard (``id % n_shards``): inside a shard documents
  are processed in id order and a document whose tokens would overflow the
  budget starts the next sequence. Shards are independent — the plan is one
  hash shuffle + per-partition window arithmetic, which scales linearly with
  corpus size; the packing loss vs a global bin-pack is the standard
  trade-off every production pipeline takes.

Both are pure window/aggregate arithmetic over integers — exact cross-engine
oracles exist for the full pipelines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ape_dts_spark.functions.text import portable_hash_expr


def _rank_hash(id_col: str) -> str:
    """Deterministic per-doc shuffle key: portable hash of the stringified id
    (engine-reproducible; avoids favoring low ids the way rank-by-id would)."""
    return portable_hash_expr(f"CAST({id_col} AS STRING)")


def stratified_quota(
    df: DataFrame,
    group_col: str,
    quota: int | dict[str, int],
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact per-group quotas with deterministic membership.

    ``quota`` is either one int for every group or {group_value: quota}.
    Output: the selected rows plus ``sample_rank`` (1-based rank inside the
    group under the hash order — stable, so growing a quota only *adds*
    rows, it never swaps earlier selections; that property is what makes
    mix re-balancing reproducible across pipeline runs).

    Plan: one hash shuffle on the group + per-partition sort — the same
    shape as any window; no driver-side state.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.expr(_rank_hash(id_col)).asc(), F.col(id_col).asc()
    )
    ranked = df.withColumn("sample_rank", F.row_number().over(w))
    if isinstance(quota, int):
        return ranked.filter(F.col("sample_rank") <= quota)
    mapping = F.create_map(*[F.lit(x) for kv in quota.items() for x in kv])
    return ranked.filter(F.col("sample_rank") <= mapping[F.col(group_col)])


def stratified_quota_sql(
    table: str, group_col: str, quota: int, id_col: str = "doc_id"
) -> str:
    """DuckDB twin of stratified_quota (uniform quota form)."""
    from ape_dts_spark.functions.text import portable_hash_sql

    h = portable_hash_sql(f"CAST({id_col} AS VARCHAR)")
    return f"""
WITH ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY {group_col}
                               ORDER BY {h} ASC, {id_col} ASC) AS sample_rank
  FROM {table})
SELECT * FROM ranked WHERE sample_rank <= {quota}
"""


def sequence_packing(
    df: DataFrame,
    token_col: str,
    budget: int,
    id_col: str = "doc_id",
    n_shards: int = 32,
) -> DataFrame:
    """Greedy token-budget packing, per shard in id order: a document that
    would overflow the open sequence closes it and starts the next one; a
    document alone at the head of a sequence keeps it even when it exceeds
    the budget on its own (downstream truncation's problem — the packer must
    not lose documents).

    Greedy packing carries running state (the open sequence's fill, which
    RESETS at every close), which windowed cumsum arithmetic cannot express
    — a boundary-crossing cumsum chunker mis-bins as soon as a sequence
    closes below budget. So this is the honest stateful kernel: one hash
    shuffle on ``shard`` then an Arrow-batched ``applyInPandas`` running the
    linear greedy loop per shard. Shards are fully independent — size
    ``n_shards`` to at least the cluster parallelism at scale (the loop is
    O(rows in shard), so shard size bounds the straggler).

    Output: (id, shard, n_tokens, seq_id) with seq_id = shard * 10^9 + seq
    index inside the shard.
    """

    def _pack(pdf):
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        seqs = []
        fill, seq = 0, 0
        for t in pdf["n_tokens"]:
            t = int(t)
            if fill > 0 and fill + t > budget:
                seq += 1
                fill = t
            else:
                fill += t
            seqs.append(seq)
        pdf["seq_id"] = [int(s) + int(sh) * 1_000_000_000 for s, sh in zip(seqs, pdf["shard"])]
        return pdf

    slim = df.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).alias("shard"),
        F.col(token_col).cast("long").alias("n_tokens"),
    )
    out_schema = f"{id_col} long, shard long, n_tokens long, seq_id long"
    return slim.groupBy("shard").applyInPandas(_pack, schema=out_schema)


def sequence_packing_sql(
    toks_cte: str, budget: int, id_col: str = "doc_id", n_shards: int = 32
) -> str:
    """DuckDB twin of sequence_packing: the greedy loop as a per-shard
    recursive CTE advancing one row per iteration (exact, engine-portable;
    ``toks_cte`` must yield ({id_col}, n_tokens))."""
    return f"""
WITH RECURSIVE toks AS ({toks_cte}),
docs AS (
  SELECT {id_col}, {id_col} % {n_shards} AS shard, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY {id_col} % {n_shards}
                            ORDER BY {id_col}) AS rn
  FROM toks),
g AS (
  SELECT shard, rn, {id_col}, n_tokens, n_tokens AS fill, 0 AS seq
  FROM docs WHERE rn = 1
  UNION ALL
  SELECT d.shard, d.rn, d.{id_col}, d.n_tokens,
         -- g.fill > 0 mirrors the Spark kernel's guard: an empty sequence
         -- (possible only after zero-token docs) accepts even an over-budget
         -- doc rather than opening another empty sequence
         CASE WHEN g.fill > 0 AND g.fill + d.n_tokens > {budget} THEN d.n_tokens
              ELSE g.fill + d.n_tokens END,
         CASE WHEN g.fill > 0 AND g.fill + d.n_tokens > {budget} THEN g.seq + 1 ELSE g.seq END
  FROM g JOIN docs d ON d.shard = g.shard AND d.rn = g.rn + 1)
SELECT {id_col}, shard, n_tokens, shard * 1000000000 + seq AS seq_id FROM g
"""


def pack_summary(packed: DataFrame) -> DataFrame:
    """Per-sequence roll-up: doc count + token fill (callers check fill vs
    budget for packing efficiency)."""
    return packed.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("seq_tokens"),
    )


def _scramble_expr(id_col: str, seed: int) -> str:
    """Portable Knuth scramble, identical SQL text in Spark and DuckDB.

    The seed folds into the MULTIPLIER (XOR-mixed in Python, kept odd so the
    map stays a mod-2^32 bijection), not just an additive offset — an added
    constant is a rotation of the hash circle that leaves the ORDER of any
    finite id set unchanged, and a tiny multiplier nudge (+2*seed) shifts
    hash k by only 2k, far below the ~2^32/n hash spacing, so every seed
    produced the same shuffle. Seed 0 keeps the classic Knuth constant. The
    reduced id is < 2^31 and the multiplier < 2^32: product < 2^63. The
    additive offset is likewise reduced mod 2^32 in Python — the mod-2^32
    result is unchanged, and an unreduced seed*40503 from a large caller
    seed would push the sum past 2^63 (BIGINT overflow in both engines)."""
    mult = (2654435761 ^ ((seed * 2246822519) & 0xFFFFFFFF)) | 1
    add = (seed * 40503 + 17) & 0xFFFFFFFF
    return (
        f"(((CAST({id_col} AS BIGINT) % 2147483648 + 2147483648) % 2147483648) "
        f"* {mult} + {add}) % 4294967296"
    )


def deterministic_shuffle(
    df: DataFrame, id_col: str = "doc_id", n_shards: int = 32, seed: int = 0
) -> DataFrame:
    """Stable global pseudo-random shuffle into ``n_shards`` output shards —
    the "shuffle the corpus" step between curation and tokenization. Every
    doc gets (shard, pos): shard = scrambled-hash mod n_shards, pos = the
    doc's rank inside its shard under the same scrambled order. Deterministic
    given (ids, n_shards, seed), so re-runs and engines agree and a training
    job can resume mid-epoch by (shard, pos).

    Scale shape: one hash shuffle on shard + a per-shard sort — exactly
    repartition(n) + sortWithinPartitions at 100 TB, no global sort. The
    scramble is a Knuth-style multiplicative hash in BIGINT arithmetic
    (engine-portable; id-order and hash-order are uncorrelated). The id is
    reduced to [0, 2^31) BEFORE the multiply so the product stays under
    2^63 for ANY BIGINT id — an unreduced id >= ~3.5e9 overflows int64,
    which DuckDB rejects and Spark silently wraps (sign-carrying % would
    then emit negative shards); the +2^31 re-mod keeps negative ids
    non-negative identically in both engines."""
    h = _scramble_expr(id_col, seed)
    w = Window.partitionBy("shard").orderBy("h", id_col)
    return (
        df.select(F.col(id_col), F.expr(h).alias("h"))
        .withColumn("shard", (F.col("h") % n_shards).cast("int"))
        .withColumn("pos", F.row_number().over(w) - 1)
        .select(id_col, "shard", F.col("pos").cast("long").alias("pos"))
    )


def deterministic_shuffle_sql(
    table: str = "documents", id_col: str = "doc_id", n_shards: int = 32, seed: int = 0
) -> str:
    """DuckDB twin of deterministic_shuffle."""
    h = _scramble_expr(id_col, seed)
    return f"""
WITH s AS (SELECT {id_col}, {h} AS h FROM {table}),
sh AS (SELECT {id_col}, h, CAST(h % {n_shards} AS INT) AS shard FROM s)
SELECT {id_col}, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, {id_col}) - 1 AS BIGINT) AS pos
FROM sh
"""


def token_quota(
    df: DataFrame,
    group_col: str,
    budget: int | dict[str, int],
    token_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-budget mixing: keep documents per group until the group's TOKEN
    budget is exhausted — production mixes are specified in tokens ("2B
    tokens of code, 8B of web"), not document counts (stratified_quota's
    unit). A document is kept iff the budget was not already spent before it
    in the deterministic hash order, so the last kept document may overshoot
    the budget by part of itself (the standard convention: budgets bound
    where the cut falls, documents are atomic).

    Selection order is the same portable hash as stratified_quota — stable
    under re-runs, and growing a budget only ADDS documents. Output: the
    selected rows + ``cum_tokens`` (tokens up to and including the row).
    Plan: one hash shuffle on the group + a per-partition running sum.
    """
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.expr(_rank_hash(id_col)).asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(token_col)).over(w).cast("long")
    ranked = df.withColumn("cum_tokens", cum)
    if isinstance(budget, int):
        limit = F.lit(budget)
    else:
        mapping = F.create_map(*[F.lit(x) for kv in budget.items() for x in kv])
        limit = mapping[F.col(group_col)]
    return ranked.filter(F.col("cum_tokens") - F.col(token_col) < limit)


def token_quota_sql(
    table: str, group_col: str, budget: int, token_col: str, id_col: str = "doc_id"
) -> str:
    """DuckDB twin of token_quota (uniform budget form)."""
    from ape_dts_spark.functions.text import portable_hash_sql

    h = portable_hash_sql(f"CAST({id_col} AS VARCHAR)")
    return f"""
WITH ranked AS (
  SELECT *, CAST(SUM({token_col}) OVER (PARTITION BY {group_col}
                 ORDER BY {h} ASC, {id_col} ASC
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM {table})
SELECT * FROM ranked WHERE cum_tokens - {token_col} < {budget}
"""


def source_caps(
    df: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    cap: int = 100,
    seed: int = 0,
) -> DataFrame:
    """Per-source document cap: keep at most ``cap`` documents from every
    source/domain, chosen deterministically pseudo-randomly — the host-level
    frequency cap of web-corpus curation (RefinedWeb/CCNet cap documents per
    registered domain so megadomains can't dominate the mix; the reference
    moves rows and has no analogue — training-pipeline extension op).

    Selection: rank docs inside their group by the portable Knuth scramble of
    the id (uncorrelated with id order, reproducible in any engine), keep
    ranks 1..cap. Output (id, group, rk).

    Scale shape: one hash shuffle on ``group_col`` + a per-group window —
    identical to stratified_quota. Skew note: a megadomain makes one hot
    partition.
    """
    h = _scramble_expr(id_col, seed)
    w = Window.partitionBy(group_col).orderBy(F.expr(h).asc(), F.col(id_col).asc())
    return (
        df.select(group_col, id_col)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= cap)
        .select(id_col, group_col, "rk")
    )


def source_caps_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    group_col: str = "source",
    cap: int = 100,
    seed: int = 0,
) -> str:
    """DuckDB twin of source_caps."""
    h = _scramble_expr(id_col, seed)
    return f"""
WITH ranked AS (
  SELECT {id_col}, {group_col},
         CAST(ROW_NUMBER() OVER (PARTITION BY {group_col}
              ORDER BY {h} ASC, {id_col} ASC) AS BIGINT) AS rk
  FROM {table})
SELECT {id_col}, {group_col}, rk FROM ranked WHERE rk <= {cap}
"""


def temperature_mix(
    df: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    total_docs: int = 300,
    seed: int = 0,
) -> DataFrame:
    """Temperature-smoothed source mixing at tau = 0.5: allocate a document
    budget across sources with sampling weight n_s^tau instead of n_s — the
    standard rebalancing of multilingual/multi-source LM corpora (small
    sources get upsampled relative to their share, megasources capped;
    mBERT/XLM-R-style exponent smoothing). tau = 1 is proportional
    allocation (stratified_quota's shape); tau -> 0 is uniform-per-source.

    Integer-exact so the cross-engine gate holds: weight = isqrt(n_s) =
    floor(sqrt(n)) — IEEE sqrt is correctly rounded, so floor(sqrt(double))
    equals the integer sqrt for any realistic count (the nearest hazard,
    n = k^2 - 1, is ~1/(2k) below k versus a ~1e-11 ulp at corpus scale) —
    then quota_s = total_docs * w_s div W with pure BIGINT arithmetic.
    Membership inside a source is the seeded Knuth scramble rank, as in
    source_caps. Output (id, group, rk, quota); quota = 0 drops a source.

    Scale shape: one per-source count agg (map-side combined), a broadcast
    of the tiny (n_sources)-row quota table, one per-source window — one
    data shuffle end to end. The same megadomain-skew note as source_caps
    applies to the window.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
    weights = counts.withColumn(
        "wgt", F.expr("CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT)")
    )
    total_w = weights.agg(F.sum("wgt").alias("W"))
    quota = (
        weights.join(F.broadcast(total_w))
        .withColumn("quota", F.expr(f"CAST({total_docs} * wgt div W AS BIGINT)"))
        .select(group_col, "quota")
    )
    h = _scramble_expr(id_col, seed)
    w = Window.partitionBy(group_col).orderBy(F.expr(h).asc(), F.col(id_col).asc())
    ranked = (
        df.select(group_col, id_col)
        .withColumn("rk", F.row_number().over(w).cast("long"))
    )
    return (
        ranked.join(F.broadcast(quota), group_col)
        .filter(F.col("rk") <= F.col("quota"))
        .select(id_col, group_col, "rk", "quota")
    )


def temperature_mix_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    group_col: str = "source",
    total_docs: int = 300,
    seed: int = 0,
) -> str:
    """DuckDB twin of temperature_mix (same isqrt weights, div quotas,
    scramble ranks)."""
    h = _scramble_expr(id_col, seed)
    return f"""
WITH counts AS (
  SELECT {group_col}, COUNT(*) AS n FROM {table} GROUP BY {group_col}),
weights AS (
  SELECT {group_col}, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS wgt
  FROM counts),
quota AS (
  SELECT {group_col},
         CAST({total_docs} * wgt // (SELECT SUM(wgt) FROM weights) AS BIGINT)
             AS quota
  FROM weights),
ranked AS (
  SELECT {id_col}, {group_col},
         CAST(ROW_NUMBER() OVER (PARTITION BY {group_col}
              ORDER BY {h} ASC, {id_col} ASC) AS BIGINT) AS rk
  FROM {table})
SELECT {id_col}, r.{group_col}, rk, quota
FROM ranked r JOIN quota q ON r.{group_col} = q.{group_col}
WHERE rk <= quota
"""


def unimax_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    budget: int = 700,
    max_epochs: int = 2,
    seed: int = 0,
) -> DataFrame:
    """UniMax language sampling (Chung et al. 2023, "UniMax: Fairer and More
    Effective Language Sampling for Large-Scale Multilingual Pretraining"):
    allocate a document budget across languages by WATER-FILLING — budget is
    distributed as uniformly as possible, except no language may exceed
    ``max_epochs`` passes over its own corpus. Head languages cap at the
    common water level L, tail languages saturate at max_epochs * n_l and
    repeat up to that many epochs. The paper's argument: temperature
    sampling over-repeats the tail and starves the head; an explicit epoch
    cap bounds repetition directly.

    Integer-exact water level so the cross-engine gate holds: with caps
    K_l = max_epochs * n_l sorted ascending (prefix sums P_i, n languages),
    the saturated set is the largest i0 with P_i0 + K_i0 * (n - i0) <=
    budget; the level is L = (budget - P_i0) div m over the m = n - i0
    unsaturated languages, remainder r spread +1 over the first r of them
    in (cap, lang) order, clamped to the cap (a rare 1-doc shortfall beats
    a float level). Pure BIGINT arithmetic end to end.

    Output: (id, lang, epoch, rk, alloc) — rk is the per-language sample
    rank in seeded-scramble order, epoch = (rk-1) div n_l (0-based pass
    number; epoch > 0 rows are the paper's bounded repetitions).

    Scale shape: one per-language count agg; the water level solves on the
    DRIVER-SMALL language table (n_languages rows — broadcast); one
    per-language window ranks membership. One data shuffle end to end, same
    as temperature_mix; the same megadomain-skew note applies.
    """
    counts = df.groupBy(lang_col).agg(F.count(F.lit(1)).alias("n"))
    caps = counts.withColumn("cap", F.expr(f"n * {max_epochs}"))
    # the language table is driver-small (n_languages rows); the global-sort
    # windows and cross joins below all run on it, never on the corpus
    w_sort = Window.orderBy(F.col("cap").asc(), F.col(lang_col).asc())
    ordered = (
        caps.withColumn("i", F.row_number().over(w_sort).cast("long"))
        .withColumn("pfx", F.sum("cap").over(
            w_sort.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(F.broadcast(caps.agg(F.count(F.lit(1)).alias("nl"))))
    )
    sat = ordered.agg(
        F.max(F.when(
            F.col("pfx") + F.col("cap") * (F.col("nl") - F.col("i")) <= budget,
            F.col("i"),
        )).alias("i0")
    )
    params = (
        ordered.join(F.broadcast(sat))
        .withColumn("i0", F.coalesce(F.col("i0"), F.lit(0)))
        .withColumn("p0", F.coalesce(
            F.max(F.when(F.col("i") == F.col("i0"), F.col("pfx"))).over(
                Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)),
            F.lit(0)))
        .withColumn("m", F.col("nl") - F.col("i0"))
        .withColumn("lvl", F.when(F.col("m") > 0,
                                  F.expr(f"({budget} - p0) div m")).otherwise(F.lit(0)))
        .withColumn("rem", F.when(F.col("m") > 0,
                                  F.expr(f"({budget} - p0) % m")).otherwise(F.lit(0)))
        .withColumn(
            "alloc",
            F.when(F.col("i") <= F.col("i0"), F.col("cap")).otherwise(
                F.least(
                    F.col("cap"),
                    F.col("lvl") + F.when(
                        F.col("i") - F.col("i0") <= F.col("rem"), F.lit(1)
                    ).otherwise(F.lit(0)),
                )
            ),
        )
        .select(lang_col, "n", "alloc")
    )
    h = _scramble_expr(id_col, seed)
    w = Window.partitionBy(lang_col).orderBy(F.expr(h).asc(), F.col(id_col).asc())
    ranked = (
        df.select(lang_col, id_col)
        .withColumn("base_rk", F.row_number().over(w).cast("long"))
    )
    return (
        ranked.join(F.broadcast(params), lang_col)
        .filter(F.col("base_rk") <= F.col("alloc"))
        .withColumn("epoch", F.explode(F.sequence(
            F.lit(0), F.expr("CAST((alloc - base_rk) div n AS INT)"))))
        .select(
            id_col, lang_col,
            F.col("epoch").cast("long").alias("epoch"),
            (F.col("base_rk") + F.col("epoch") * F.col("n")).alias("rk"),
            "alloc",
        )
    )


def unimax_sample_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    budget: int = 700,
    max_epochs: int = 2,
    seed: int = 0,
) -> str:
    """DuckDB twin of unimax_sample (identical integer water-filling)."""
    h = _scramble_expr(id_col, seed)
    return f"""
WITH counts AS (
  SELECT {lang_col}, COUNT(*) AS n FROM {table} GROUP BY {lang_col}),
ordered AS (
  SELECT {lang_col}, n, n * {max_epochs} AS cap,
         CAST(ROW_NUMBER() OVER (ORDER BY n * {max_epochs} ASC, {lang_col} ASC) AS BIGINT) AS i,
         SUM(n * {max_epochs}) OVER (ORDER BY n * {max_epochs} ASC, {lang_col} ASC
             ROWS UNBOUNDED PRECEDING) AS pfx,
         COUNT(*) OVER () AS nl
  FROM counts),
sat AS (
  SELECT COALESCE(MAX(CASE WHEN pfx + cap * (nl - i) <= {budget} THEN i END), 0) AS i0
  FROM ordered),
params AS (
  SELECT o.{lang_col}, o.n, o.cap, o.i, s.i0,
         COALESCE((SELECT pfx FROM ordered WHERE i = s.i0), 0) AS p0,
         o.nl - s.i0 AS m
  FROM ordered o, sat s),
alloc AS (
  SELECT {lang_col}, n,
         CASE WHEN i <= i0 THEN cap
              ELSE LEAST(cap,
                   ({budget} - p0) // m
                   + CASE WHEN i - i0 <= ({budget} - p0) % m THEN 1 ELSE 0 END)
         END AS alloc
  FROM params),
ranked AS (
  SELECT {id_col}, {lang_col},
         CAST(ROW_NUMBER() OVER (PARTITION BY {lang_col}
              ORDER BY {h} ASC, {id_col} ASC) AS BIGINT) AS base_rk
  FROM {table})
SELECT r.{id_col}, r.{lang_col},
       CAST(e.epoch AS BIGINT) AS epoch,
       CAST(r.base_rk + e.epoch * a.n AS BIGINT) AS rk,
       CAST(a.alloc AS BIGINT) AS alloc
FROM ranked r
JOIN alloc a ON r.{lang_col} = a.{lang_col}
CROSS JOIN (SELECT UNNEST(range(0, {max_epochs})) AS epoch) e
WHERE r.base_rk + e.epoch * a.n <= a.alloc
"""


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "split-v1",
    val_pct: int = 5,
    test_pct: int = 5,
) -> DataFrame:
    """Deterministic train/val/test assignment — the split every training
    pipeline needs to be REPRODUCIBLE and LEAK-FREE: membership depends only
    on (salt, id), never on partitioning, row order, or cluster size, so
    re-running on 10 machines or 1000 yields byte-identical splits and a
    document can never migrate between train and eval across runs. Bucket =
    first 8 hex digits of md5(salt || '-' || id) mod 100 (JVM-side md5 —
    whole-stage codegen, no shuffle, no Python). val gets [0, val_pct),
    test [val_pct, val_pct+test_pct), train the rest."""
    bucket = (
        F.conv(F.substring(F.md5(F.concat_ws("-", F.lit(salt), F.col(id_col).cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < val_pct, F.lit("val"))
        .when(bucket < val_pct + test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("bucket", bucket).withColumn("split", split)
