"""Similarity search over embedding columns (`array<float>`).

Eleven top-k searchers, each returning (query_id, neighbor_id, rank):

- `cosine_topk`: brute-force exact top-k — the correctness baseline. Dot
  products via zip_with + an ordered left fold (deterministic float
  accumulation, reproducible across engines); ranks by similarity with id
  tiebreak. Cost O(|queries| x |corpus|): fine when the query set is small or
  as the ground-truth for recall measurement.
- `cosine_topk_np`: the same exact top-k as one numpy GEMM per Arrow batch.
- `lsh_ann_topk`: the scale path — random-hyperplane (sign) LSH bucketing.
  Each vector gets an n-bit signature from fixed pseudo-random hyperplanes;
  candidates share a signature band; exact cosine re-ranks candidates. At
  100 TB the bucket join replaces the cross join; hyperplanes are generated
  from a deterministic integer recurrence (engine-portable, no RNG state).
- `ivf_topk`, `ivf_index` + `ivf_index_topk`: inverted-file lists around
  trained k-means centroids; each query probes its nearest lists.
- `pq_topk`, `pq_index` + `pq_index_topk`: product-quantization codes
  scored by ADC table lookups.
- `ivfpq_topk`, `ivfpq_index` + `ivfpq_index_topk` (and
  `ivfpq_index_append`): IVF cells over residual PQ codes.
- `sq8_topk`, `sq8_index` + `sq8_index_topk`: one uint8 code per dimension.

Each ``X_topk`` is a fused scan (train, then score the corpus in one
Arrow-batched pass); each ``X_index`` + ``X_index_topk`` pair is the served
shape (build and persist the codes once, then query them). The two shapes
keep their own plans but share one implementation of every step:

- query loader ``_load_queries``: the small query set, collected to ids and
  unit rows;
- row normaliser ``_unit_rows``: clamps zero norms, so a zero vector stays
  zero instead of going NaN;
- candidate emitter ``_scan`` (with ``_cut`` or ``_rerank`` per batch, or
  ``_cell_adc_cut`` per IVF-PQ cell): each batch keeps its best candidates
  and drops self-matches;
- global top-k ``_topk``: one row_number window, score descending,
  neighbor-id tiebreak;
- exact re-rank ``_exact_rerank``: ordered-fold cosine of the survivors;
- quantizers: ``_train_sample`` (hash-mod training sample), ``_nearest`` /
  ``_probe`` (IVF lists), ``_pq_encode`` / ``_subspace_dists`` (PQ codes
  and ADC tables), ``_sq8_bounds`` / ``_sq8_encode`` / ``_sq8_decode``.

Near-duplicate finders sit beside them: `cosine_dup_pairs` (banded
hyperplane LSH, exact fold) and `semantic_dedup` (SemDeDup on IVF lists).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"


def _dot(a: str, b: str) -> str:
    return DOT.format(a=a, b=b)


def with_norm(df: DataFrame, vec_col: str = "embedding", out: str = "norm") -> DataFrame:
    """L2 norm, computed on float->double promoted values with an ordered fold."""
    dbl = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    return df.withColumn(out, F.expr(f"sqrt({_dot(dbl, dbl)})"))


def _doubles(df: DataFrame, id_col: str, vec_col: str, name: str, prefix: str) -> DataFrame:
    """(name, <prefix>_vec): the id renamed, the vector promoted to double."""
    return df.select(
        F.col(id_col).alias(name),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias(f"{prefix}_vec"),
    )


def _exact_cosine():
    """Cosine of q_vec and c_vec over their norms: the ordered-fold dot,
    the same IEEE operations as the DuckDB oracles."""
    return F.expr(_dot("q_vec", "c_vec")) / (F.col("q_norm") * F.col("c_norm"))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Global top-k per query over (query_id, neighbor_id, score) rows: rank
    1..k by descending score with neighbor-id tiebreak."""
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _exact_rerank(
    survivors: DataFrame, queries: DataFrame, vectors: DataFrame, id_col: str, vec_col: str, k: int
) -> DataFrame:
    """Top-k of the (query_id, neighbor_id) survivors by exact cosine.

    Fetches ONLY the survivors' vectors: the tiny survivor relation
    broadcasts onto the cold-storage vector table, then exact cosine per
    pair (the query vectors ride along the same way — both sides are
    query-bounded)."""
    pairs = (
        _doubles(vectors, id_col, vec_col, "neighbor_id", "c")
        .join(F.broadcast(survivors.select("query_id", "neighbor_id")), "neighbor_id")
        .join(F.broadcast(_doubles(queries, id_col, vec_col, "query_id", "q")), "query_id")
    )
    normed = with_norm(with_norm(pairs, "q_vec", "q_norm"), "c_vec", "c_norm")
    return _topk(normed.withColumn("score", _exact_cosine()), k)


def _unit_rows(mat):
    """Row-normalize, clamping zero norms to eps: a zero vector stays zero
    instead of going NaN and silently poisoning codebooks / ADC tables."""
    nrm = np.linalg.norm(mat, axis=1, keepdims=True)
    return mat / np.maximum(nrm, 1e-12)


def _vectors(values):
    """An Arrow batch's vector column as an (n, dim) float64 matrix."""
    return np.array(values.tolist(), dtype=np.float64)


def _load_queries(queries: DataFrame, id_col: str, vec_col: str):
    """(ids, unit rows) of the query set, collected to the driver — the
    query set is small by contract and rides in the task closures."""
    rows = queries.select(id_col, vec_col).collect()
    ids = np.array([int(r[id_col]) for r in rows])
    return ids, _unit_rows(np.array([r[vec_col] for r in rows], dtype=np.float64))


def _scan(df: DataFrame, score_batch) -> DataFrame:
    """One Arrow-batched ``mapInPandas`` pass over ``df``.

    ``score_batch(pdf)`` returns the batch's candidate parts, a list of
    ``(query_ids, neighbor_ids, scores)`` arrays (higher score = nearer).
    Self-matches are dropped here, per batch; the candidates then need only
    the one tiny shuffle of ``_topk`` (|queries| x batches x kept rows)."""

    def _run(batches):
        import pandas as pd

        for pdf in batches:
            parts = score_batch(pdf) if len(pdf) else []
            if parts:
                q, n, s = (np.concatenate(col) for col in zip(*parts))
                out = pd.DataFrame({"query_id": q, "neighbor_id": n, "score": s})
                yield out[out["query_id"] != out["neighbor_id"]]

    return df.mapInPandas(_run, schema="query_id long, neighbor_id long, score double")


def _best(scores, keep: int):
    """Column indices of each row's ``keep`` highest scores (unordered)."""
    keep = min(keep, scores.shape[1])
    return np.argpartition(-scores, keep - 1, axis=1)[:, :keep]


def _cut(q_ids, c_ids, scores, keep: int):
    """Candidate part of each query's ``keep`` best-scored batch rows, from
    a (|queries| x |batch|) score matrix."""
    idx = _best(scores, keep)
    return q_ids.repeat(idx.shape[1]), c_ids[idx].ravel(), np.take_along_axis(scores, idx, axis=1).ravel()


def _rerank(q_ids, q_mat, c_ids, c_mat, picks):
    """Candidate parts re-scored by exact cosine with the batch's unit
    vectors in hand; ``picks`` yields (query row, candidate rows)."""
    return [(np.full(len(sel), q_ids[qi]), c_ids[sel], c_mat[sel] @ q_mat[qi]) for qi, sel in picks]


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, rank), rank 1..k by descending cosine with
    neighbor-id tiebreak. The (usually small) query side is broadcast so the
    corpus never shuffles — the scan stays embarrassingly parallel.
    """
    q = with_norm(_doubles(queries, id_col, vec_col, "query_id", "q"), "q_vec", "q_norm")
    c = with_norm(_doubles(corpus, id_col, vec_col, "neighbor_id", "c"), "c_vec", "c_norm")
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    return _topk(scored.withColumn("score", _exact_cosine()), k)


def cosine_topk_np(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k via Arrow-batched numpy GEMM — the throughput path.

    The expression-based ``cosine_topk`` keeps bit-reproducible ordered folds
    (its DuckDB oracle needs that); Spark's higher-order-function lambdas are
    interpreted per element though, so for real corpora this variant computes
    Q @ C.T per Arrow batch (one BLAS call per ~10k corpus rows) and keeps a
    per-batch top-k, then resolves the global top-k with one tiny shuffle.
    Queries are collected to the driver and broadcast in the closure — the
    query set is small by contract (use ann/LSH when it is not).
    Output: (query_id, neighbor_id, rank) — identical to cosine_topk up to
    float-summation-order rank ties.
    """
    q_ids, q_mat = _load_queries(queries, id_col, vec_col)

    def _score(pdf):
        sims = q_mat @ _unit_rows(_vectors(pdf[vec_col])).T  # |Q| x |batch|
        return [_cut(q_ids, pdf[id_col].to_numpy(), sims, k + 1)]  # +1 to survive self-match removal

    return _topk(_scan(corpus.select(id_col, vec_col), _score), k)


def _train_sample(
    corpus: DataFrame, id_col: str, vec_col: str, target: int, empty_msg: str, n: int | None = None
):
    """The driver-side training sample of every quantizer, as unit rows.

    A hash-mod filter (``xxhash64(id) % mod == 0``) sized to about
    ``target`` rows — unbiased across the id space, no global sort — is
    collected (bounded regardless of corpus size) and put in id order, so
    the strided init is reproducible. An empty sample raises ValueError
    with ``empty_msg`` (formatted with the corpus rows ``n`` and ``mod``).
    ``n`` is the corpus row count when the caller already has it (IVF-PQ
    draws two samples from one count); otherwise it is counted here."""
    if n is None:
        n = corpus.count()
    mod = max(1, n // max(1, target))
    sample = (
        corpus.select(id_col, vec_col)
        .filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod)) == 0)
        .collect()
    )
    if not sample:
        raise ValueError(empty_msg.format(n=n, mod=mod))
    sample.sort(key=lambda r: r[id_col])
    return _unit_rows(np.array([r[vec_col] for r in sample], dtype=np.float64))


def _train_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int,
    sample_per_list: int = 50,
    iters: int = 8,
    n: int | None = None,
):
    """Deterministic spherical-k-means centroids for IVF.

    Sample: hash-mod filter (``xxhash64(id) % m == 0``) sized to about
    ``n_lists * sample_per_list`` rows — unbiased across the id space, no
    global sort (the previous ``orderBy(id).limit(...)`` stride sampled only
    the first rows AND paid a full sort). The sample is collected to the
    driver (bounded, ~n_lists*50 rows) and refined with a few Lloyd
    iterations in numpy on unit vectors (spherical k-means: assignment by
    max dot product, centroid = normalized mean). Everything is seeded by
    data content only, so results are reproducible across runs/engines.
    """
    mat = _train_sample(
        corpus, id_col, vec_col, n_lists * sample_per_list,
        "IVF centroid training sample is empty (corpus rows={n}, hash mod={mod})",
        n,
    )
    k_eff = min(n_lists, len(mat))
    step = max(1, len(mat) // k_eff)
    cent = mat[::step][:k_eff].copy()
    for _ in range(iters):
        assign = _nearest(mat, cent)
        for li in range(k_eff):
            members = mat[assign == li]
            if len(members):
                c = members.mean(axis=0)
                nrm = np.linalg.norm(c)
                if nrm > 0:
                    cent[li] = c / nrm
    return cent


def _nearest(unit, cent):
    """Each unit row's IVF list: the centroid with the largest dot product."""
    return np.argmax(unit @ cent.T, axis=1)


def _probe(q_mat, cent, n_probe: int):
    """Probe matrix: probing[qi] = the n_probe nearest centroid ids."""
    return np.argsort(-(q_mat @ cent.T), axis=1)[:, :n_probe]


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    k: int = 5,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the other classic ANN scale
    path next to LSH: partition the corpus into n_lists Voronoi cells around
    coarse centroids, then each query scans only its n_probe nearest cells
    (n_probe/n_lists of the corpus instead of all of it).

    Centroids are k-means-trained on a deterministic hash-mod sample of the
    corpus (collected to the driver, a few Lloyd iterations in numpy, then
    broadcast in the task closure) — no global sort, no first-rows bias, and
    the sample-train-broadcast shape is exactly what survives 100 TB: the
    full corpus is touched only by the single scoring scan below.

    Assignment AND scoring happen in one Arrow-batched ``mapInPandas`` pass:
    per batch, each vector is assigned to its nearest centroid, then for each
    list only the queries probing that list score that list's members with a
    numpy GEMM — total flops = the probed fraction of brute force, which is
    the IVF contract. Each batch emits per-query partial top-k rows, and one
    tiny shuffle (|queries| x batches x k rows) resolves the global top-k, so
    the corpus is scanned once, never shuffled, and no candidate-pair relation
    ever materializes (the earlier join-based formulation pushed ~|probed
    pairs| rows through interpreted higher-order-function dot products — the
    slow path this module's docstring warns about).
    Output: (query_id, neighbor_id, rank).
    """
    cent = _train_centroids(corpus, id_col, vec_col, n_lists)
    q_ids, q_mat = _load_queries(queries, id_col, vec_col)
    probing = _probe(q_mat, cent, n_probe)

    def _score(pdf):
        c_ids = pdf[id_col].to_numpy()
        c_mat = _unit_rows(_vectors(pdf[vec_col]))
        lists = _nearest(c_mat, cent)
        parts = []
        for li in np.unique(lists):
            qsel = np.nonzero((probing == li).any(axis=1))[0]
            if qsel.size:
                csel = np.nonzero(lists == li)[0]
                sims = q_mat[qsel] @ c_mat[csel].T  # |probing queries| x |cell|
                parts.append(_cut(q_ids[qsel], c_ids[csel], sims, k + 1))  # +1 survives self-match removal
        return parts

    return _topk(_scan(corpus.select(id_col, vec_col), _score), k)


N_PLANES = 8


def _plane_coef(plane: int, dim: int) -> int:
    """Deterministic pseudo-random coefficient in [-4, 4] for hyperplane
    `plane`, dimension `dim` — a fixed LCG-style integer mix, identical in any
    engine (used only Spark-side; ANN has no SQL oracle, checked rows-only)."""
    v = (1103515245 * (plane * 131 + dim) + 12345) % 2147483648
    return (v % 9) - 4


def signature_expr(vec_col: str, dim: int) -> str:
    """n-bit sign signature of a vector under N_PLANES fixed hyperplanes."""
    bits = []
    for p in range(N_PLANES):
        terms = " + ".join(
            f"CAST({vec_col}[{d}] AS DOUBLE) * {_plane_coef(p, d)}" for d in range(dim) if _plane_coef(p, d) != 0
        )
        bits.append(f"CASE WHEN ({terms}) > 0 THEN CAST({1 << p} AS BIGINT) ELSE 0 END")
    return " + ".join(bits)


def signature_sql(vec_expr: str, dim: int) -> str:
    """DuckDB twin of ``signature_expr`` over a DOUBLE[] list expression
    (1-based indexing). Terms are generated by the same coefficient loop in
    the same order, so the float sums are IEEE-identical across engines."""
    bits = []
    for p in range(N_PLANES):
        terms = " + ".join(
            f"{vec_expr}[{d + 1}] * {_plane_coef(p, d)}" for d in range(dim) if _plane_coef(p, d) != 0
        )
        bits.append(f"CASE WHEN ({terms}) > 0 THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    return " + ".join(bits)


def dup_banding_for(
    threshold: float, target_recall: float = 0.9, max_planes: int = 64
) -> tuple[int, int]:
    """(n_bands, band_bits) for hyperplane-LSH near-dup banding, tuned from
    the cosine threshold exactly like dedup.banding_for tunes MinHash bands.

    A sign bit agrees for a pair at cosine t with probability
    p = 1 - acos(t)/pi; a band of b bits collides with p^b, and n bands give
    recall 1-(1-p^b)^n. We pick the DEEPEST band (most bits = most buckets =
    fewest candidates, since candidate volume is sum(bucket^2)) whose band
    count still fits the plane budget at the requested recall. High
    thresholds therefore get fine bands (t=0.9 -> 7x8 bits = 256 buckets,
    t=0.95 -> 6x10 = 1024), while low thresholds degrade gracefully to
    coarse bands (t=0.35 -> 16x4) — a low cosine threshold over random data
    is inherently near-quadratic, no banding can fix that.
    """
    import math

    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    for bits in range(16, 0, -1):
        pb = p**bits
        if pb >= 1.0:
            return 1, bits
        if pb <= 0.0:
            continue
        n_bands = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pb)))
        if n_bands * bits <= max_planes:
            return n_bands, bits
    return 1, 1


def dup_plane_terms(plane: int, dim: int) -> list[tuple[int, int]]:
    """Sparse +-1 hyperplane for the near-dup signature: ~dim/8 active
    dimensions per plane (Achlioptas-style sparse random projection — the
    sign-LSH family tolerates sparse coefficients, and an 8x smaller term
    list keeps BOTH engines' expression trees small; the previous dense
    [-4,4] planes made a ~50 KB SQL string whose Catalyst/DuckDB *planning*
    dominated runtime 30x over the actual data). Deterministic integer mix,
    identical in any engine; guaranteed non-empty."""
    terms = []
    for d in range(dim):
        v = (1103515245 * (plane * 131 + d) + 12345) % 2147483648
        if v % 8 == 0:
            terms.append((d, 1 if (v >> 3) % 2 == 0 else -1))
    if not terms:
        terms.append((plane % dim, 1))
    return terms


def band_value_sql(vec_expr: str, dim: int, band: int, band_bits: int) -> str:
    """DuckDB band bucket value: sum of sign bits band*band_bits..+band_bits-1
    weighted 1<<j (always < 2^band_bits — packing all planes into one BIGINT
    would overflow at plane 63). 1-based list indexing; term order matches the
    kernel's sequential fold, so the per-plane float sums are IEEE-identical."""
    bits = []
    for j in range(band_bits):
        p = band * band_bits + j
        terms = " + ".join(f"{vec_expr}[{d + 1}] * {c}" for d, c in dup_plane_terms(p, dim))
        bits.append(f"CASE WHEN ({terms}) > 0 THEN {1 << j} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


def cosine_dup_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.9,
    target_recall: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) with
    id_a < id_b and cosine >= threshold, among candidates sharing any band of
    a threshold-adaptive hyperplane signature (dup_banding_for).

    Scale shape: one corpus scan computes the per-band bucket values; one
    shuffle groups (band, bucket) and an Arrow-batched applyInPandas kernel
    verifies each bucket locally — a numpy GEMM prefilter over the bucket's
    unit vectors, then an exact ordered-fold recompute for survivors only.
    No pairwise relation ever materializes in the plan (the previous
    formulation joined exploded sides and paid an interpreted higher-order
    -function fold per candidate — 44x slower than brute-force GEMM at
    sf0.1), candidate volume is sum(bucket^2) with bucket count 2^band_bits
    per band growing with the threshold, and per-task state is one bucket.

    Exactness: band sign bits and survivors' cosines are computed as
    sequential left folds in dimension order — the same IEEE operation
    sequence as the DuckDB oracle's generated `+`-chains and ``list_reduce``
    folds, so both the bucket values and the emitted doubles are
    bit-identical to the SQL oracle; the GEMM is only a prune with 1e-9
    slack. A pair colliding in multiple buckets emits identical rows —
    groupBy(max) dedups.
    """
    import pandas as pd

    n_bands, band_bits = dup_banding_for(threshold, target_recall)
    plane_terms = [dup_plane_terms(p, dim) for p in range(n_bands * band_bits)]
    thr = float(threshold)

    def _band(batches):
        # one corpus scan -> (band, bv, _id, vec) rows; the per-plane sum
        # accumulates term-by-term in the exact order band_value_sql emits
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            ids = pdf.iloc[:, 0].to_numpy()
            vecs = np.array(pdf.iloc[:, 1].tolist(), dtype=np.float64)
            bits = np.empty((len(plane_terms), m), dtype=np.int64)
            for p, terms in enumerate(plane_terms):
                (d0, c0), rest = terms[0], terms[1:]
                acc = vecs[:, d0] * c0
                for d, c in rest:
                    acc = acc + vecs[:, d] * c
                bits[p] = acc > 0
            vec_list = list(pdf.iloc[:, 1])
            out = []
            for i in range(n_bands):
                bv = np.zeros(m, dtype=np.int64)
                for j in range(band_bits):
                    bv += bits[i * band_bits + j] << j
                out.append(pd.DataFrame({"band": i, "bv": bv, "_id": ids, "vec": vec_list}))
            yield pd.concat(out, ignore_index=True)

    banded = corpus.select(
        F.col(id_col).cast("long"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))"),
    ).mapInPandas(_band, schema="band int, bv long, _id long, vec array<double>")

    def _bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": np.array([], dtype=np.int64),
                "id_b": np.array([], dtype=np.int64),
                "cosine": np.array([], dtype=np.float64),
            }
        )
        m = len(pdf)
        if m < 2:
            return empty
        ids = pdf["_id"].to_numpy()
        vecs = np.array(pdf["vec"].tolist(), dtype=np.float64)
        # exact left-fold norms: same op order as sqrt(aggregate(zip_with)))
        acc = np.zeros(m)
        for d in range(vecs.shape[1]):
            acc = acc + vecs[:, d] * vecs[:, d]
        nrm = np.sqrt(acc)
        with np.errstate(divide="ignore", invalid="ignore"):
            unit = vecs / nrm[:, None]
            gram = unit @ unit.T  # GEMM prefilter; <=~1e-13 off the exact fold
        ia, ib = np.nonzero(np.triu(gram >= thr - 1e-9, k=1))
        if ia.size == 0:
            return empty
        a, b = vecs[ia], vecs[ib]
        acc = np.zeros(ia.size)
        for d in range(a.shape[1]):
            acc = acc + a[:, d] * b[:, d]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = acc / (nrm[ia] * nrm[ib])
        keep = cos >= thr
        return pd.DataFrame(
            {
                "id_a": np.minimum(ids[ia], ids[ib])[keep],
                "id_b": np.maximum(ids[ia], ids[ib])[keep],
                "cosine": cos[keep],
            }
        )

    pairs = banded.groupBy("band", "bv").applyInPandas(
        _bucket, schema="id_a long, id_b long, cosine double"
    )
    return pairs.groupBy("id_a", "id_b").agg(F.max("cosine").alias("cosine"))


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k: candidates = corpus vectors sharing either 4-bit
    half of the query's 8-bit sign signature, re-ranked by exact cosine.

    Each side is exploded into one row per (band, band_value); candidates come
    from a single hash-partitionable equi-join on those two keys (broadcast
    when the query side is small). The earlier OR-of-band-equalities condition
    could not hash-partition and Spark planned a BroadcastNestedLoopJoin —
    O(|corpus| x |queries|), brute force in costume. With exploded bands the
    corpus is scanned once, the join is map-side, and only
    (query_id, neighbor_id, cosine) candidate rows ever shuffle (for the
    dual-band dedup + final ranking).
    Output: (query_id, neighbor_id, rank)."""
    sig = signature_expr(vec_col, dim)
    half = (1 << (N_PLANES // 2)) - 1
    band_vals = f"array(sig & {half}, shiftright(sig, {N_PLANES // 2}))"

    def banded(df: DataFrame, idname: str, prefix: str) -> DataFrame:
        return (
            with_norm(df, vec_col, f"{prefix}_norm")
            .select(
                F.col(id_col).alias(idname),
                F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias(f"{prefix}_vec"),
                f"{prefix}_norm",
                F.expr(sig).alias("sig"),
            )
            .select(
                idname,
                f"{prefix}_vec",
                f"{prefix}_norm",
                F.posexplode(F.expr(band_vals)).alias("band", "bv"),
            )
        )

    q = banded(queries, "query_id", "q")
    c = banded(corpus, "neighbor_id", "c")
    cand = c.join(F.broadcast(q), ["band", "bv"]).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = cand.select("query_id", "neighbor_id", _exact_cosine().alias("score"))
    # a pair matching on both bands appears twice with an identical cosine
    return _topk(scored.groupBy("query_id", "neighbor_id").agg(F.max("score").alias("score")), k)


def ivf_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
):
    """Build the persistent IVF index: trained centroids + the corpus
    assigned to its Voronoi lists — ``(centroids ndarray, assignments
    DataFrame(list_id, id, vec))``.

    At 100 TB the assignments land to storage PARTITIONED BY list_id (and
    the tiny centroid matrix beside them); queries then read only their
    probed lists via partition pruning — the full corpus is scanned exactly
    once at index build, never per query batch (ivf_topk's one-pass scan is
    the right shape for ad-hoc queries; this is the right shape for a served
    index). Assignment happens in one Arrow-batched pass with the centroids
    broadcast in the closure."""
    from pyspark import StorageLevel

    cent = _train_centroids(corpus, id_col, vec_col, n_lists)
    assigned = (
        corpus.select(id_col, vec_col)
        .mapInPandas(_assigner(cent, id_col, vec_col), schema=_ASSIGNED_SCHEMA)
        # the partitioned-landing stand-in: one shuffle partition per list,
        # independent of spark.sql.shuffle.partitions
        .repartition(n_lists, F.col("list_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    assigned.count()
    return cent, assigned


_ASSIGNED_SCHEMA = "list_id int, id long, vec array<double>"


def _assigner(cent, id_col: str, vec_col: str):
    """mapInPandas kernel putting each vector in its IVF list: rows of
    ``_ASSIGNED_SCHEMA``, the vector passed through as stored."""

    def _assign(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "list_id": _nearest(_unit_rows(_vectors(pdf[vec_col])), cent).astype(np.int32),
                    "id": pdf[id_col].to_numpy(),
                    "vec": list(pdf[vec_col]),
                }
            )

    return _assign


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 8,
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): k-means
    cluster the embedding space, find cosine-similar pairs WITHIN each
    cluster only, and emit the keep-list (id, rep_id) where rep_id = the
    minimum id of the item's near-duplicate connected component.

    Scale shape — the published algorithm's, re-expressed in Spark:
    sample-train-broadcast centroids (driver holds k vectors, never the
    corpus), one Arrow-batched assignment pass over the corpus, then a
    shuffle keyed on cluster id and a per-cluster numpy GEMM for the
    pairwise step — total flops ~ sum(cluster^2) instead of n^2, with k
    chosen to grow with the corpus (SemDeDup uses k ~ sqrt(n)). Identical
    vectors always co-cluster (argmax over the same centroid scores), so
    exact-duplicate recall is 1 regardless of the clustering quality.

    Components are resolved by the same connected-components routes as the
    text dedup family (dedup.keep_representatives).
    """
    import pandas as pd

    from ape_dts_spark.functions.dedup import keep_representatives

    if df.select(id_col).head(1) == []:  # empty corpus: nothing to train on
        return df.select(
            F.col(id_col).cast("long"), F.col(id_col).cast("long").alias("rep_id")
        )

    cent = _train_centroids(df, id_col, vec_col, n_lists)
    assigned = df.select(id_col, vec_col).mapInPandas(
        _assigner(cent, id_col, vec_col), schema=_ASSIGNED_SCHEMA
    )

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        ids = pdf["id"].to_numpy()
        vecs = _unit_rows(_vectors(pdf["vec"]))
        sims = vecs @ vecs.T
        ai, bi = np.nonzero(np.triu(sims >= threshold, k=1))
        a, b = ids[ai], ids[bi]
        return pd.DataFrame({"id_a": np.minimum(a, b), "id_b": np.maximum(a, b)})

    pairs = assigned.groupBy("list_id").applyInPandas(_pairs, schema="id_a long, id_b long")
    return keep_representatives(df, id_col, pairs).withColumnRenamed("doc_id", id_col)


def ivf_index_topk(
    index,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k against a STORED IVF index: each query probes its
    n_probe nearest lists; the probe relation broadcasts against the
    assignments so only probed lists' rows are read (partition pruning when
    the index is landed partitioned-by-list), then an Arrow kernel scores
    candidates with a per-query GEMM and one tiny shuffle resolves global
    top-k. Output: (query_id, neighbor_id, rank)."""
    cent, assigned = index
    q_ids, q_mat = _load_queries(queries, id_col, vec_col)
    probing = _probe(q_mat, cent, n_probe)
    q_index = {int(q): i for i, q in enumerate(q_ids)}

    probe = assigned.sparkSession.createDataFrame(
        [(int(lid), int(qid)) for qi, qid in enumerate(q_ids) for lid in probing[qi]],
        "list_id int, query_id long",
    )
    cand = assigned.join(F.broadcast(probe), "list_id").filter(
        F.col("id") != F.col("query_id")
    )

    def _score(pdf):
        qi = np.array([q_index[int(q)] for q in pdf["query_id"]])
        cos = np.einsum("ij,ij->i", q_mat[qi], _unit_rows(_vectors(pdf["vec"])))
        return [(pdf["query_id"].to_numpy(), pdf["id"].to_numpy(), cos)]

    return _topk(_scan(cand, _score), k)


def _train_pq_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    ks: int,
    sample_per_code: int = 40,
    iters: int = 10,
):
    """Deterministic per-subspace k-means codebooks for product quantization.

    Same sample-train-broadcast shape as IVF's ``_train_centroids``: a
    hash-mod sample (unbiased across the id space, no global sort) collected
    to the driver (~ks*sample_per_code rows — bounded regardless of corpus
    size), unit-normalized, then independent Lloyd k-means per subspace with
    strided deterministic init. Returns (m, ks, subdim) float64 array.
    """
    mat = _train_sample(
        corpus, id_col, vec_col, ks * sample_per_code,
        "PQ codebook training sample is empty (corpus rows={n}, hash mod={mod}) "
        "— cannot train codebooks on zero vectors",
    )
    return _kmeans_subspaces(mat, m, ks, iters)


def _kmeans_subspaces(mat, m: int, ks: int, iters: int = 10):
    """Independent Lloyd k-means per subspace over an (n, dim) float64
    matrix with strided deterministic init. Returns (m, k_eff, dim//m)."""
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    k_eff = min(ks, len(mat))
    books = np.empty((m, k_eff, sub))
    for j in range(m):
        s = mat[:, j * sub : (j + 1) * sub]
        step = max(1, len(s) // k_eff)
        cent = s[::step][:k_eff].copy()
        for _ in range(iters):
            # L2 assignment via the expanded form; argmin is deterministic
            assign = np.argmin(_sq_dists(s, cent), axis=1)
            for c in range(k_eff):
                members = s[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


def _sq_dists(x, cent):
    """d2[i, c] = squared L2 distance of row x[i] to centroid cent[c]."""
    return ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)


def _subspace_dists(mat, books):
    """d[i, j, c] = ||mat_i sub_j - books[j][c]||^2 over the (m, ks, sub)
    codebooks: a row's PQ code is its argmin over c, and a query's ADC table
    is its own d[i]."""
    sub = books.shape[2]
    return np.stack(
        [_sq_dists(mat[:, j * sub : (j + 1) * sub], books[j]) for j in range(len(books))], axis=1
    )


def _pq_encode(mat, books):
    """PQ codes: codes[i, j] = nearest centroid of subvector j."""
    return np.argmin(_subspace_dists(mat, books), axis=2)


def _adc(tabs, codes):
    """ADC: dist[qi, i] = sum_j tabs[qi, j, codes[i, j]] — one (nq x n)
    table-lookup gather per subspace."""
    dist = np.zeros((len(tabs), len(codes)))
    for j in range(tabs.shape[1]):
        dist += tabs[:, j, :][:, codes[:, j]]
    return dist


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 16,
    k: int = 5,
    rerank: int = 4,
) -> DataFrame:
    """Product-quantization ANN with exact re-ranking (Jegou, Douze, Schmid,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011 — the
    ADC + re-ranking variant): the third classic ANN scale path next to
    hyperplane LSH (lsh_ann_topk) and IVF (ivf_topk). PQ's 100-TB argument
    is MEMORY, not flops: each unit vector compresses to m code bytes
    (m*log2(ks) bits — 8 bytes here vs 512 for float64x64), so a
    billion-vector index fits in RAM and candidate scoring is table lookups.

    One Arrow-batched ``mapInPandas`` scan does everything per batch:
    encode (per-subspace argmin against the broadcast codebooks), ADC score
    (each query precomputes its m x ks squared-distance table driver-side;
    batch distance = sum of table lookups via fancy indexing), then the
    ADC top-(k*rerank) candidates are re-ranked by EXACT cosine (their full
    vectors are in hand within the batch — re-ranking is free locally, and
    it is what makes the planted-twin gate exact: the twin's ADC distance is
    provably minimal since its code IS the query's own encoding, and exact
    re-rank breaks any code-collision tie in the twin's favor). One tiny
    shuffle (|queries| x batches x k rows) resolves the global top-k — the
    corpus is scanned once and never shuffled, no pair relation materializes.
    Output: (query_id, neighbor_id, rank).
    """
    books = _train_pq_codebooks(corpus, id_col, vec_col, m, ks)
    q_ids, q_mat = _load_queries(queries, id_col, vec_col)
    # ADC tables: tabs[qi, j, c] = ||q_sub_j - centroid_jc||^2
    tabs = _subspace_dists(q_mat, books)

    def _score(pdf):
        c_mat = _unit_rows(_vectors(pdf[vec_col]))
        dist = _adc(tabs, _pq_encode(c_mat, books))
        idx = _best(-dist, k * rerank + 1)  # +1 survives self-match
        # exact re-rank of the ADC survivors (vectors are local)
        return _rerank(q_ids, q_mat, pdf[id_col].to_numpy(), c_mat, enumerate(idx))

    return _topk(_scan(corpus.select(id_col, vec_col), _score), k)


def pq_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 16,
):
    """Build the persistent PQ index: trained codebooks + the corpus encoded
    to m-byte codes — ``(codebooks ndarray, codes DataFrame(id, codes
    array<int>))``. The serving shape of product quantization: the corpus is
    scanned (and its float vectors touched) exactly ONCE at build; queries
    score the stored codes with table lookups and never read a corpus
    vector again. At 100 TB the codes table is ~m bytes/vector — 8 GB per
    billion vectors here, RAM-resident on a modest cluster — while the
    float vectors stay in cold storage (only an optional exact re-rank
    stage would fetch the few survivors).
    """
    from pyspark import StorageLevel

    books = _train_pq_codebooks(corpus, id_col, vec_col, m, ks)

    def _encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            codes = _pq_encode(_unit_rows(_vectors(pdf[vec_col])), books).astype(np.int32)
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    encoded = (
        corpus.select(id_col, vec_col)
        .mapInPandas(_encode, schema="id long, codes array<int>")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    encoded.count()
    return books, encoded


def pq_index_topk(
    index,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Query the stored PQ index: pure ADC over the codes table — each query
    precomputes its m x ks distance table driver-side (bounded by the query
    set), each Arrow batch of stored codes scores as m fancy-indexed table
    lookups, one small window resolves the global top-k. No corpus vector is
    read; ties and ranks are deterministic (distance asc, neighbor id asc).
    Unlike pq_topk there is no exact re-rank (the serving index has no
    vectors) — recall is pure-ADC, the published IVFADC trade.
    Output: (query_id, neighbor_id, rank).
    """
    books, encoded = index
    q_ids, q_mat = _load_queries(queries, id_col, vec_col)
    tabs = _subspace_dists(q_mat, books)

    def _score(pdf):
        dist = _adc(tabs, np.array(pdf["codes"].tolist(), dtype=np.int64))
        # the score is the negated distance: nearest first
        return [_cut(q_ids, pdf["id"].to_numpy(), -dist, k + 1)]

    return _topk(_scan(encoded, _score), k)

def _train_residual_books(corpus, id_col, vec_col, cent, m, ks, n, sample_per_code=40, iters=10):
    """Residual PQ codebooks for IVF-PQ (Jegou et al. 2011 SIV, IVFADC):
    hash-mod sample -> unit rows -> subtract each vector's nearest coarse
    centroid -> shared per-subspace k-means over the residuals. One codebook
    set is shared across all cells (the paper's memory-efficient variant).
    ``n`` is the corpus row count the centroid sample was drawn from."""
    mat = _train_sample(
        corpus, id_col, vec_col, ks * sample_per_code,
        "IVF-PQ residual training sample is empty (corpus rows={n}, hash mod={mod})",
        n,
    )
    resid = mat - cent[_nearest(mat, cent)]
    return _kmeans_subspaces(resid, m, ks, iters)


def _adc_tables(q_mat, cent, probing, books):
    """tabs[qi, pi, j, c] = ||(q - cent[probing[qi, pi]])_sub_j - books[j][c]||^2
    — one ADC table per (query, probed cell), since IVF-PQ residuals are
    relative to the probed cell's centroid. Bounded by the query set:
    nq x n_probe x m x ks doubles."""
    return np.stack(
        [_subspace_dists(q_mat - cent[probing[:, pi]], books) for pi in range(probing.shape[1])],
        axis=1,
    )


def _cell_adc_cut(cells, codes, probing, tabs, keep: int):
    """IVF-PQ's per-cell candidate cut over one batch: for each cell and
    each query probing it, the ADC distances of the cell's members against
    that query's table for the cell, and the ``keep`` nearest. Yields
    (query row, member rows, their distances)."""
    for li in np.unique(cells):
        csel = np.nonzero(cells == li)[0]
        for qi, pi in zip(*np.nonzero(probing == li)):
            # ADC over this cell's members for this query:
            # dist[i] = sum_j t[j, codes[i, j]] via a broadcast gather
            t = tabs[qi, pi]
            dist = t[np.arange(t.shape[0]), codes[csel]].sum(axis=1)
            cand = min(keep, len(csel))
            idx = np.argpartition(dist, cand - 1)[:cand]
            yield qi, csel[idx], dist[idx]


def ivfpq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ks: int = 16,
    k: int = 5,
    rerank: int = 4,
) -> DataFrame:
    """IVF-PQ (IVFADC, Jegou, Douze, Schmid, TPAMI 2011 SIV) — the composite
    billion-scale ANN shape the separate IVF and PQ kernels each cover half
    of: a coarse quantizer prunes the corpus to n_probe/n_lists cells AND
    each vector compresses to m residual code bytes, so the scan does
    table-lookup flops over a pruned fraction of a compressed corpus.

    Fused-scan variant: coarse centroids + shared residual codebooks are
    sample-trained driver-side and broadcast; ONE Arrow-batched mapInPandas
    pass assigns cells, residual-encodes, ADC-scores each query against its
    probed cells only (per-(query, cell) distance tables — residuals are
    relative to the probed centroid), keeps the per-CELL ADC
    top-(k*rerank+1), and exact-re-ranks the survivors by cosine with the
    full vectors in hand. One tiny shuffle resolves the global top-k; the
    corpus is scanned once and never shuffled.

    The per-cell candidate cut makes the planted-twin gate provable: a
    twin's cell is its query's nearest centroid (always probed), its
    residual code is the query-residual's own encoding, so its ADC distance
    is the minimum of its cell's table — it survives the per-cell cut
    (absent 16^8-space code collisions) and exact re-rank pins cosine=1 at
    rank 1. Output: (query_id, neighbor_id, rank).
    """
    n = corpus.count()
    cent = _train_centroids(corpus, id_col, vec_col, n_lists, n=n)
    books = _train_residual_books(corpus, id_col, vec_col, cent, m, ks, n)
    q_ids, q_mat = _load_queries(queries, id_col, vec_col)
    probing = _probe(q_mat, cent, n_probe)
    tabs = _adc_tables(q_mat, cent, probing, books)

    def _score(pdf):
        c_mat = _unit_rows(_vectors(pdf[vec_col]))
        lists = _nearest(c_mat, cent)
        cut = _cell_adc_cut(lists, _pq_encode(c_mat - cent[lists], books), probing, tabs, k * rerank + 1)
        # exact re-rank, vectors local
        return _rerank(q_ids, q_mat, pdf[id_col].to_numpy(), c_mat, ((qi, sel) for qi, sel, _ in cut))

    return _topk(_scan(corpus.select(id_col, vec_col), _score), k)


def ivfpq_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    m: int = 8,
    ks: int = 16,
):
    """Build the persistent IVF-PQ index — ``(centroids, residual codebooks,
    codes DataFrame(id, cell, codes array<int>))``: the full billion-scale
    serving layout (FAISS IVFADC). At 100 TB the codes table is partitioned
    BY CELL (here a column; on a cluster, the table's partition key), so a
    query touches n_probe/n_lists of the index files — partition pruning on
    top of m-byte compression — and never reads a corpus float vector.
    """
    from pyspark import StorageLevel

    n = corpus.count()
    cent = _train_centroids(corpus, id_col, vec_col, n_lists, n=n)
    books = _train_residual_books(corpus, id_col, vec_col, cent, m, ks, n)

    encoded = (
        corpus.select(id_col, vec_col)
        .mapInPandas(_ivfpq_encoder(cent, books, id_col, vec_col), schema=_IVFPQ_CODES_SCHEMA)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    encoded.count()
    return cent, books, encoded


_IVFPQ_CODES_SCHEMA = "id long, cell int, codes array<int>, err double"


def _ivfpq_encoder(cent, books, id_col: str, vec_col: str):
    """mapInPandas closure encoding vectors against FROZEN centroids +
    residual codebooks. ``err`` is each vector's squared residual
    reconstruction error — the quantization quality the codebooks were
    trained to minimize, recorded so index maintenance can measure drift."""

    def _encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            vecs = _unit_rows(_vectors(pdf[vec_col]))
            lists = _nearest(vecs, cent)
            resid = vecs - cent[lists]
            codes = _pq_encode(resid, books)
            recon = books[np.arange(len(books)), codes].reshape(resid.shape)
            err = ((resid - recon) ** 2).sum(axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(),
                    "cell": lists,
                    "codes": list(codes.astype(np.int32)),
                    "err": err,
                }
            )

    return _encode


def ivfpq_index_append(
    index,
    new_batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Append a batch to a served IVF-PQ index WITHOUT retraining: encode the
    new vectors with the FROZEN centroids + residual codebooks and union the
    cell-partitioned codes — the production serving pattern for continuous
    crawl ingestion (the dedup side's minhash_index/minhash_incremental_pairs
    analogue, functions/dedup.py). At 100 TB this is an append of new
    partition files into the cell-partitioned codes table; nothing existing
    is rewritten and queries see the union via the same cell pruning.

    Returns ``(new_index, staleness)`` where staleness = {mean_err_base,
    mean_err_appended, staleness_ratio}: the appended batch's mean squared
    residual quantization error over the trained base's. The codebooks were
    trained to minimize base error, so a drifting ingest distribution shows
    up as ratio >> 1 — the retrain signal (quantizer no longer fits the
    data), measured from the err column alone: no vector is re-read.
    """
    from pyspark import StorageLevel

    cent, books, encoded = index
    appended = (
        new_batch.select(id_col, vec_col)
        .mapInPandas(_ivfpq_encoder(cent, books, id_col, vec_col), schema=_IVFPQ_CODES_SCHEMA)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    base_err = encoded.agg(F.avg("err")).first()[0]
    new_err = appended.agg(F.avg("err")).first()[0]
    union = encoded.unionByName(appended).persist(StorageLevel.MEMORY_AND_DISK)
    union.count()
    staleness = {
        "mean_err_base": float(base_err) if base_err is not None else 0.0,
        "mean_err_appended": float(new_err) if new_err is not None else 0.0,
        "staleness_ratio": (
            float(new_err) / float(base_err) if base_err else float("inf")
        ),
    }
    return (cent, books, union), staleness


def ivfpq_index_topk(
    index,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 4,
    k: int = 5,
    rerank_with: DataFrame | None = None,
    rerank: int = 4,
) -> DataFrame:
    """Query the stored IVF-PQ index: prune the codes table to the union of
    probed cells (partition pruning at scale — a Spark filter on the cell
    column here), then pure per-(query, cell) ADC over the stored residual
    codes. No corpus vector is read in the ADC stage.

    ``rerank_with``: the optional exact re-rank stage of the deployed
    IVFADC pipeline — pass the corpus (or any (id, vector) relation in cold
    storage) and the ADC top-(k*rerank) survivors per query (a tiny
    relation, |queries| x k x rerank rows) are joined back to their float
    vectors and re-scored by exact cosine. Only the survivors' vectors are
    ever fetched — the 100-TB read pattern this index exists for. Without
    it, recall is pure-ADC (the published IVFADC trade): cross-cell ADC
    distances are computed against different residual origins, so a
    lower-true-distance neighbor can be underestimated by a foreign cell —
    measured 39/40 planted twins at rank 1 pure-ADC vs 40/40 with re-rank
    on the sf0.1 corpus. Output: (query_id, neighbor_id, rank).
    """
    cent, books, encoded = index
    q_ids, q_mat = _load_queries(queries, id_col, vec_col)
    probing = _probe(q_mat, cent, n_probe)
    tabs = _adc_tables(q_mat, cent, probing, books)
    probed_cells = sorted({int(c) for c in probing.ravel()})

    def _score(pdf):
        c_ids = pdf["id"].to_numpy()
        codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
        cut = _cell_adc_cut(pdf["cell"].to_numpy(), codes, probing, tabs, k + 1)
        # the score is the negated ADC distance: nearest first
        return [(np.full(len(sel), q_ids[qi]), c_ids[sel], -dist) for qi, sel, dist in cut]

    partial = _scan(encoded.filter(F.col("cell").isin(probed_cells)), _score)
    if rerank_with is None:
        return _topk(partial, k)
    return _exact_rerank(_topk(partial, k * rerank), queries, rerank_with, id_col, vec_col, k)


def _sq8_bounds(corpus: DataFrame, vec_col: str):
    """SQ8 quantizer: per-dimension bounds from ONE map-side combined
    aggregate (2*dim scalars) as (lo, span), span 1 on a constant
    dimension."""
    dim = len(corpus.select(vec_col).first()[0])
    bounds_row = corpus.agg(
        *[F.min(F.col(vec_col)[i]).alias(f"lo{i}") for i in range(dim)],
        *[F.max(F.col(vec_col)[i]).alias(f"hi{i}") for i in range(dim)],
    ).collect()[0]
    lo = np.array([bounds_row[f"lo{i}"] for i in range(dim)], dtype=np.float64)
    hi = np.array([bounds_row[f"hi{i}"] for i in range(dim)], dtype=np.float64)
    return lo, np.where(hi > lo, hi - lo, 1.0)


def _sq8_encode(mat, lo, span):
    """One uint8 code (0..255, held as int64) per dimension."""
    return np.clip(np.rint((mat - lo) / span * 255.0), 0, 255).astype(np.int64)


def _sq8_decode(codes, lo, span):
    """Unit rows of the dequantized codes."""
    return _unit_rows(lo + codes * span / 255.0)


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    rerank: int = 4,
) -> DataFrame:
    """Scalar-quantization ANN (the faiss SQ8 shape): every dimension maps
    to one uint8 against per-dimension [min, max] bounds trained on the
    corpus — 8x memory compression over float64 (one code byte per
    dimension) with far better per-dimension fidelity than PQ's shared
    subspace codebooks; the classic middle ground between raw floats and
    product codes.

    Shape mirrors pq_topk: per-dimension bounds come from ONE map-side
    combined aggregate (2*dim scalars, broadcast in the task closure); an
    Arrow-batched scan encodes each batch, scores queries against the
    DEQUANTIZED batch (numpy GEMM), and exact-re-ranks the top k*rerank
    survivors with the in-hand full vectors — which is what makes the
    planted-twin gate exact: the twin's dequantized vector is the nearest
    quantization of the query itself, and exact re-rank breaks any
    quantization tie in the twin's favor. One tiny top-k shuffle; the
    corpus is scanned once and never shuffled."""
    lo, span = _sq8_bounds(corpus, vec_col)
    q_ids, q_mat = _load_queries(queries, id_col, vec_col)

    def _score(pdf):
        c_mat = _vectors(pdf[vec_col])
        approx = _sq8_decode(_sq8_encode(c_mat, lo, span), lo, span) @ q_mat.T  # (n, nq) dequantized cosine
        idx = _best(approx.T, k * rerank + 1)
        return _rerank(q_ids, q_mat, pdf[id_col].to_numpy(), _unit_rows(c_mat), enumerate(idx))

    return _topk(_scan(corpus.select(id_col, vec_col), _score), k)


def sq8_index(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple:
    """Build-once SQ8 index: per-dimension [min, max] bounds (driver-tiny,
    2*dim floats) + the uint8 code relation (id, codes array<int>) — the
    8x-compressed stored form a serving tier reads instead of raw vectors
    (the family's build-once/serve pattern next to pq_index/ivfpq_index).
    Returns (bounds, codes_df); codes persist eagerly like the other
    served indexes."""
    from pyspark import StorageLevel

    lo, span = _sq8_bounds(corpus, vec_col)

    def _encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "codes": list(_sq8_encode(_vectors(pdf[vec_col]), lo, span)),
            })

    codes = corpus.select(id_col, vec_col).mapInPandas(
        _encode, schema=f"{id_col} long, codes array<long>"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    codes.count()
    return (lo, span), codes


def sq8_index_topk(
    index: tuple,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    rerank: int = 4,
    rerank_with: DataFrame | None = None,
) -> DataFrame:
    """Serve from the stored SQ8 codes: dequantized-GEMM scan over the code
    relation (never touches raw vectors), then an exact re-rank of the
    top-k*rerank survivors against ``rerank_with`` (the deployed
    fetch-survivor-vectors stage; None = approx ranks ship as-is)."""
    (lo, span), codes = index
    q_ids, q_mat = _load_queries(queries, id_col, vec_col)

    def _score(pdf):
        approx = _sq8_decode(_vectors(pdf["codes"]), lo, span) @ q_mat.T
        return [_cut(q_ids, pdf[id_col].to_numpy(), approx.T, k * rerank + 1)]

    partial = _scan(codes, _score)
    if rerank_with is None:
        return _topk(partial, k)
    return _exact_rerank(_topk(partial, k * rerank), queries, rerank_with, id_col, vec_col, k)
