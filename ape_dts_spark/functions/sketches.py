"""Mergeable sketch operators — the fixed-size summaries a 100 TB engine
ships between stages instead of raw data:

- HyperLogLog (Flajolet et al. 2007) distinct-count registers, p=8/m=256
  by default. The DISTRIBUTED artifact is the register table (register,
  max_rank): it merges across partitions, shards and days by per-register
  MAX — a sketch of 100 TB is 256 small integers. The float estimate is a
  driver-side readout (`hll_estimate`); the registers themselves are pure
  integers and cross-engine bit-exact, so the driver gate checks the sketch
  STATE and the merge law, while pytest bounds the estimate's error against
  true distinct counts.
- Count-Min (Cormode & Muthukrishnan 2005) frequency counters, depth x
  width, plus the point-query/heavy-hitter readout min_i(counter[h_i(x)]).
  Counters and readouts are integer sums — fully oracle-gateable, including
  the classic one-sided error guarantee (estimate >= true count).

Portability: both engines hash with md5 (hex) and fold hex digits to a
BIGINT — Spark via conv(), DuckDB via an explicit base-16 list_reduce —
so register indexes and ranks agree bit-for-bit. All expressions are
JVM-side whole-stage codegen; one hash agg per sketch, no other shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HLL_P = 8  # 2^8 = 256 registers; standard error 1.04/sqrt(256) ~ 6.5%
HLL_RANK_BITS = 48  # rank window: 12 hex chars -> exact in BIGINT
CMS_DEPTH = 4
CMS_WIDTH = 1024


def _hll_exprs(col: str) -> tuple[str, str]:
    """(register, rank) SQL exprs over md5(col). Register = first 2 hex
    chars (0..255); rank = leading zeros + 1 in the next 48 bits (1..49)."""
    m_hex = HLL_P // 4  # hex chars for the register index
    idx = f"CAST(conv(substring(md5({col}), 1, {m_hex}), 16, 10) AS INT)"
    win = f"CAST(conv(substring(md5({col}), {m_hex + 1}, {HLL_RANK_BITS // 4}), 16, 10) AS BIGINT)"
    rank = (
        f"CASE WHEN {win} = 0 THEN {HLL_RANK_BITS + 1} "
        f"ELSE {HLL_RANK_BITS} - (length(bin({win})) - 1) END"
    )
    return idx, rank


def _hll_exprs_sql(col: str) -> tuple[str, str]:
    """DuckDB twins (conv() replaced by an explicit base-16 fold)."""
    m_hex = HLL_P // 4

    def hex2int(expr: str) -> str:
        return (
            f"list_reduce(list_transform(string_split({expr}, ''), ch -> "
            f"CAST(CASE WHEN ch BETWEEN '0' AND '9' THEN ascii(ch) - 48 "
            f"ELSE ascii(ch) - 87 END AS BIGINT)), (acc, c) -> acc * 16 + c)"
        )

    idx = f"CAST({hex2int(f'substr(md5({col}), 1, {m_hex})')} AS INT)"
    win = hex2int(f"substr(md5({col}), {m_hex + 1}, {HLL_RANK_BITS // 4})")
    rank = (
        f"CASE WHEN {win} = 0 THEN {HLL_RANK_BITS + 1} "
        f"ELSE {HLL_RANK_BITS} - (length(bin({win})) - 1) END"
    )
    return idx, rank


def hll_registers(df: DataFrame, col: str) -> DataFrame:
    """HyperLogLog sketch STATE of a column: (register, max_rank), only
    registers that were hit (sparse form — absent register = rank 0).
    One map-side-combined MAX agg; merging two sketches = union + MAX."""
    idx, rank = _hll_exprs(col)
    return (
        df.select(F.expr(idx).alias("register"), F.expr(rank).alias("rank"))
        .groupBy("register")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_registers_sql(table: str, col: str) -> str:
    idx, rank = _hll_exprs_sql(col)
    return f"""
SELECT {idx} AS register, CAST(MAX({rank}) AS INT) AS max_rank
FROM {table} GROUP BY 1"""


def hll_merge(sketches: list[DataFrame]) -> DataFrame:
    """Merge sketch states: union + per-register MAX. The algebraic point of
    HLL — sketches built per partition/shard/day combine losslessly, so a
    100 TB distinct count moves 256 integers per shard, never rows."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("register").agg(F.max("max_rank").alias("max_rank"))


def hll_estimate(registers: DataFrame) -> float:
    """Driver-side readout of a register table: the standard HLL estimator
    with linear-counting small-range correction. Float by nature — bounded
    by pytest against true distinct counts, not oracle-gated (the gated
    artifact is the integer register state)."""
    import math

    m = 1 << HLL_P
    regs = {r["register"]: r["max_rank"] for r in registers.collect()}
    s = sum(2.0 ** -regs.get(i, 0) for i in range(m))
    alpha = 0.7213 / (1 + 1.079 / m)
    est = alpha * m * m / s
    zeros = m - len(regs)
    if est <= 2.5 * m and zeros > 0:
        est = m * math.log(m / zeros)
    return est


def _cms_exprs(col: str, row: int, width: int) -> str:
    """Counter index of `col` in CMS row `row`: md5 over a row-salted key."""
    return (
        f"CAST(conv(substring(md5(concat('{row}', ':', {col})), 1, 8), 16, 10) "
        f"% {width} AS INT)"
    )


def _cms_exprs_sql(col: str, row: int, width: int) -> str:
    return (
        f"CAST(list_reduce(list_transform(string_split("
        f"substr(md5('{row}' || ':' || {col}), 1, 8), ''), ch -> "
        f"CAST(CASE WHEN ch BETWEEN '0' AND '9' THEN ascii(ch) - 48 "
        f"ELSE ascii(ch) - 87 END AS BIGINT)), (acc, c) -> acc * 16 + c) "
        f"% {width} AS INT)"
    )


def cms_table(
    df: DataFrame, col: str, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """Count-Min sketch of a column: sparse (sketch_row, idx, cnt) counters.
    One exploded projection + one hash agg; the dense sketch is depth x
    width integers regardless of corpus size, and two sketches merge by
    per-cell SUM."""
    cells = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("sketch_row"),
                        F.expr(_cms_exprs(col, r, width)).alias("idx"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("c")
    )
    return (
        cells.select("c.sketch_row", "c.idx")
        .groupBy("sketch_row", "idx")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_heavy_hitters(
    df: DataFrame, col: str, threshold: int,
    depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
) -> DataFrame:
    """Heavy hitters via the CMS point query: est(x) = min over rows of
    counter[h_row(x)], keep est >= threshold. The estimate is one-sided
    (est >= true count, Cormode & Muthukrishnan 2005 Thm 1), so no true
    heavy hitter is missed; collisions can only promote light items.
    Plan: sketch agg + distinct candidates join the (broadcast, depth x
    width-bounded) counters and take a grouped MIN — never a second
    corpus pass per row."""
    sketch = cms_table(df, col, depth, width)
    cand = df.select(F.col(col).alias("item")).distinct()
    probes = cand.select(
        "item",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("sketch_row"),
                        F.expr(_cms_exprs("item", r, width)).alias("idx"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("p"),
    ).select("item", "p.sketch_row", "p.idx")
    est = (
        probes.join(F.broadcast(sketch), ["sketch_row", "idx"])
        .groupBy("item")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return est.filter(F.col("est_cnt") >= threshold)


def cms_heavy_hitters_sql(
    table: str, col: str, threshold: int,
    depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
) -> str:
    probe_branches = "\nUNION ALL\n".join(
        f"SELECT item, {r} AS sketch_row, {_cms_exprs_sql('item', r, width)} AS idx FROM cand"
        for r in range(depth)
    )
    cell_branches = "\nUNION ALL\n".join(
        f"SELECT {r} AS sketch_row, {_cms_exprs_sql(col, r, width)} AS idx FROM {table}"
        for r in range(depth)
    )
    return f"""
WITH cells AS ({cell_branches}),
sk AS MATERIALIZED (SELECT sketch_row, idx, COUNT(*) AS cnt FROM cells GROUP BY 1, 2),
cand AS MATERIALIZED (SELECT DISTINCT {col} AS item FROM {table}),
probes AS ({probe_branches}),
est AS (SELECT p.item, CAST(MIN(sk.cnt) AS BIGINT) AS est_cnt
        FROM probes p JOIN sk USING (sketch_row, idx) GROUP BY 1)
SELECT item, est_cnt FROM est WHERE est_cnt >= {threshold}"""


# ---------------------------------------------------------------------------
# KMV / bottom-k sketch (Bar-Yossef et al. 2002; Beyer et al. 2007 "On
# synopses for distinct-value estimation"): keep the k smallest distinct
# hash values of a column. Complements HLL: the same integer sketch state
# also answers SET questions — Jaccard and intersection estimates fall out
# of comparing bottom-k samples, which register sketches cannot do. State
# and merge law are pure integers (bit-exact across engines); the distinct
# estimator (k-1) * 2^48 / h_k is a driver readout, pytest-bounded.
# ---------------------------------------------------------------------------

KMV_K = 256


def _kmv_hash(col: str) -> str:
    return f"CAST(conv(substring(md5({col}), 1, {HLL_RANK_BITS // 4}), 16, 10) AS BIGINT)"


def _kmv_hash_sql(col: str) -> str:
    return (
        f"list_reduce(list_transform(string_split(substr(md5({col}), 1, "
        f"{HLL_RANK_BITS // 4}), ''), ch -> CAST(CASE WHEN ch BETWEEN '0' AND '9' "
        f"THEN ascii(ch) - 48 ELSE ascii(ch) - 87 END AS BIGINT)), "
        f"(acc, c) -> acc * 16 + c)"
    )


def kmv_sketch(df: DataFrame, col: str, k: int = KMV_K) -> DataFrame:
    """Bottom-k sketch STATE: the k smallest distinct 48-bit hashes of the
    column, as (hkey) rows. orderBy+limit compiles to Spark's TakeOrdered
    top-k (per-partition heaps + driver merge of k values), never a global
    sort; merging sketches = k smallest of the distinct union."""
    return (
        df.select(F.expr(_kmv_hash(col)).alias("hkey"))
        .distinct()
        .orderBy("hkey")
        .limit(k)
    )


def kmv_sketch_sql(table: str, col: str, k: int = KMV_K) -> str:
    return f"""
SELECT DISTINCT {_kmv_hash_sql(col)} AS hkey
FROM {table} ORDER BY hkey LIMIT {k}"""


def kmv_merge(sketches: list[DataFrame], k: int = KMV_K) -> DataFrame:
    """Merge law: bottom-k of the distinct union of the sketches."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.distinct().orderBy("hkey").limit(k)


def kmv_estimate(sketch: DataFrame, k: int = KMV_K) -> float:
    """Distinct-count readout: exact when the sketch holds fewer than k
    hashes (every distinct value is present), else (k-1) * 2^48 / h_k."""
    rows = sorted(r["hkey"] for r in sketch.collect())
    if len(rows) < k:
        return float(len(rows))
    return (k - 1) * float(1 << HLL_RANK_BITS) / float(rows[k - 1])


def kmv_jaccard(
    dfa: DataFrame, cola: str, dfb: DataFrame, colb: str, k: int = KMV_K
) -> DataFrame:
    """Jaccard estimate between two columns from their bottom-k sketches
    (Beyer et al. 2007 §4): within the bottom-k of the UNION — a uniform
    sample of A union B — count hashes present in both sides.
    Returns one row (k_used, inter, est_jaccard); est_jaccard divides the
    two identical BIGINTs as DOUBLE, so it stays cross-engine bit-exact."""
    sa = kmv_sketch(dfa, cola, k)
    sb = kmv_sketch(dfb, colb, k)
    u = kmv_merge([sa, sb], k)
    both = u.join(sa, "hkey", "left_semi").join(sb, "hkey", "left_semi")
    return (
        u.agg(F.count(F.lit(1)).alias("k_used"))
        .crossJoin(both.agg(F.count(F.lit(1)).alias("inter")))
        .select(
            "k_used",
            "inter",
            (F.col("inter").cast("double") / F.col("k_used").cast("double")).alias(
                "est_jaccard"
            ),
        )
    )


def kmv_jaccard_sql(
    table_a: str, col_a: str, table_b: str, col_b: str, k: int = KMV_K
) -> str:
    return f"""
WITH sa AS MATERIALIZED ({kmv_sketch_sql(table_a, col_a, k)}),
sb AS MATERIALIZED ({kmv_sketch_sql(table_b, col_b, k)}),
u AS MATERIALIZED (
  SELECT hkey FROM (SELECT hkey FROM sa UNION SELECT hkey FROM sb)
  ORDER BY hkey LIMIT {k}),
inter AS (
  SELECT COUNT(*) AS inter FROM u
  WHERE hkey IN (SELECT hkey FROM sa) AND hkey IN (SELECT hkey FROM sb))
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS k_used,
       CAST(inter AS BIGINT) AS inter,
       CAST(inter AS DOUBLE) / CAST((SELECT COUNT(*) FROM u) AS DOUBLE) AS est_jaccard
FROM inter"""


# ---------------------------------------------------------------------------
# HDR-histogram quantile sketch (Tene, HdrHistogram; same exponent+mantissa
# bucketing as Prometheus native histograms). Completes the mergeable-sketch
# family: HLL = distinct, CMS = frequency, KMV = similarity, HDR = quantiles.
#
# Bucketing is INTEGER-ONLY (no log()/ln() — float transcendentals disagree
# across engines at bucket boundaries): for a positive integer v,
#   exp    = floor(log2 v)            -- via length(bin(v)) - 1
#   shift  = max(exp - SUB_BITS, 0)
#   bucket = (v >> shift) + shift * 2^(SUB_BITS+1)   -- disjoint, monotone
#   lo     = (v >> shift) << shift                   -- bucket lower bound
# Values below 2^(SUB_BITS+1) get singleton buckets (EXACT small quantiles);
# larger buckets have width 2^shift <= lo * 2^-SUB_BITS, so every quantile
# readout carries <= 2^-SUB_BITS relative error (3.125% at the default 5).
# Non-positive values clamp to bucket 0 (HdrHistogram's "below lowest
# discernible" bucket). The sketch STATE is (group..., bucket, lo, cnt):
# one hash agg over the raw data, then merging across partitions / shards /
# days is groupBy(bucket) SUM — the 100 TB shape (ship 100s of integer rows,
# never re-read data). The quantile readout runs a window cumsum over the
# BUCKET relation (sketch-sized, not data-sized): estimate for q is the lo
# of the first bucket whose cumulative count reaches ceil(q * n) — the
# percentile_disc convention, fully integer once ceil() lands.
# ---------------------------------------------------------------------------

HDR_SUB_BITS = 5  # bucket width / value <= 2^-5: 3.125% max relative error


def _hdr_exprs(col: str) -> tuple[str, str]:
    """(bucket, lo) Spark SQL exprs over a BIGINT column (v >= 1 binned,
    v < 1 clamps to bucket 0)."""
    shift = f"greatest(length(bin({col})) - 1 - {HDR_SUB_BITS}, 0)"
    bucket = (
        f"CASE WHEN {col} < 1 THEN CAST(0 AS BIGINT) ELSE "
        f"shiftright({col}, {shift}) + CAST({shift} AS BIGINT) * {1 << (HDR_SUB_BITS + 1)} END"
    )
    lo = (
        f"CASE WHEN {col} < 1 THEN CAST(0 AS BIGINT) ELSE "
        f"shiftleft(shiftright({col}, {shift}), {shift}) END"
    )
    return bucket, lo


def _hdr_exprs_sql(col: str) -> tuple[str, str]:
    """DuckDB twins (>> / << operators; same bin() semantics)."""
    shift = f"greatest(length(bin({col})) - 1 - {HDR_SUB_BITS}, 0)"
    bucket = (
        f"CASE WHEN {col} < 1 THEN CAST(0 AS BIGINT) ELSE "
        f"CAST(({col} >> {shift}) + {shift} * {1 << (HDR_SUB_BITS + 1)} AS BIGINT) END"
    )
    lo = (
        f"CASE WHEN {col} < 1 THEN CAST(0 AS BIGINT) ELSE "
        f"CAST((({col} >> {shift}) << {shift}) AS BIGINT) END"
    )
    return bucket, lo


def hdr_sketch(df: DataFrame, col: str, by: list[str] | None = None) -> DataFrame:
    """HDR quantile-sketch STATE over a BIGINT expression: one hash agg to
    (by..., bucket, lo, cnt). Map-side partial aggregation does the heavy
    lifting; the shuffled relation is bucket-sized, not data-sized."""
    bucket, lo = _hdr_exprs(col)
    keys = list(by or [])
    return (
        df.select(*keys, F.expr(bucket).alias("bucket"), F.expr(lo).alias("lo"))
        .groupBy(*keys, "bucket", "lo")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hdr_sketch_sql(table: str, col: str, by: list[str] | None = None) -> str:
    bucket, lo = _hdr_exprs_sql(col)
    keys = "".join(f"{k}, " for k in (by or []))
    return f"""
SELECT {keys}{bucket} AS bucket, {lo} AS lo, CAST(COUNT(*) AS BIGINT) AS cnt
FROM {table} GROUP BY {keys}bucket, lo"""


def hdr_merge(sketches: list[DataFrame]) -> DataFrame:
    """Merge law: counts add per bucket (lo is functional in bucket). Any
    column that isn't bucket/lo/cnt is treated as a group key, so sharded
    and grouped sketches merge the same way."""
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    keys = [c for c in out.columns if c not in ("bucket", "lo", "cnt")]
    return out.groupBy(*keys, "bucket", "lo").agg(F.sum("cnt").alias("cnt"))


def hdr_quantiles(sketch: DataFrame, qs: list[float]) -> DataFrame:
    """Quantile readout from sketch STATE: for each group and each q, the
    lo of the first bucket whose cumulative count reaches ceil(q * n).
    Pure relational — a window cumsum over the (small) bucket relation —
    so it is cross-engine exact and stays on the JVM."""
    from pyspark.sql import Window as W

    keys = [c for c in sketch.columns if c not in ("bucket", "lo", "cnt")]
    w_cum = W.partitionBy(*keys).orderBy("bucket") if keys else W.orderBy("bucket")
    w_all = W.partitionBy(*keys) if keys else W.partitionBy(F.lit(1))
    cum = (
        sketch.withColumn("cum", F.sum("cnt").over(w_cum))
        .withColumn("n", F.sum("cnt").over(w_all))
        .withColumn("q", F.explode(F.array(*[F.lit(float(q)) for q in qs])))
    )
    return (
        cum.filter(F.col("cum") >= F.ceil(F.col("q") * F.col("n")))
        .groupBy(*keys, "q")
        .agg(F.min("lo").alias("q_value"), F.min("n").alias("n"))
    )


def hdr_quantiles_sql(sketch_sql: str, qs: list[float], by: list[str] | None = None) -> str:
    keys = list(by or [])
    part = ("PARTITION BY " + ", ".join(keys)) if keys else ""
    sel = "".join(f"{k}, " for k in keys)
    qvals = ", ".join(f"(CAST({float(q)} AS DOUBLE))" for q in qs)
    return f"""
WITH sk AS MATERIALIZED ({sketch_sql}),
cum AS (
  SELECT *, SUM(cnt) OVER ({part} ORDER BY bucket) AS cum,
         SUM(cnt) OVER ({part}) AS n
  FROM sk)
SELECT {sel}q, CAST(MIN(lo) AS BIGINT) AS q_value, CAST(MIN(n) AS BIGINT) AS n
FROM cum, (VALUES {qvals}) AS qt(q)
WHERE cum >= CEIL(q * n)
GROUP BY {sel}q"""
