"""Similarity search over embedding columns (`array<float>`).

- `cosine_topk`: brute-force exact top-k — the correctness baseline. Dot
  products via zip_with + an ordered left fold (deterministic float
  accumulation, reproducible across engines); ranks by similarity with id
  tiebreak. Cost O(|queries| x |corpus|): fine when the query set is small or
  as the ground-truth for recall measurement.
- `lsh_ann_topk`: the scale path — random-hyperplane (sign) LSH bucketing.
  Each vector gets an n-bit signature from fixed pseudo-random hyperplanes;
  candidates share a signature band; exact cosine re-ranks candidates. At
  100 TB the bucket join replaces the cross join; hyperplanes are generated
  from a deterministic integer recurrence (engine-portable, no RNG state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"


def _dot(a: str, b: str) -> str:
    return DOT.format(a=a, b=b)


def with_norm(df: DataFrame, vec_col: str = "embedding", out: str = "norm") -> DataFrame:
    """L2 norm, computed on float->double promoted values with an ordered fold."""
    dbl = f"transform({vec_col}, x -> CAST(x AS DOUBLE))"
    return df.withColumn(out, F.expr(f"sqrt({_dot(dbl, dbl)})"))


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
    from pyspark.sql import Window as W

    q = with_norm(queries, vec_col, "q_norm").select(
        F.col(id_col).alias("query_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("q_vec"),
        "q_norm",
    )
    c = with_norm(corpus, vec_col, "c_norm").select(
        F.col(id_col).alias("neighbor_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("c_vec"),
        "c_norm",
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.expr(_dot("q_vec", "c_vec")) / (F.col("q_norm") * F.col("c_norm")))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


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
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    def _score(batches):
        for pdf in batches:
            c_ids = pdf[id_col].to_numpy()
            c_mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = q_mat @ c_mat.T  # |Q| x |batch|
            kk = min(k + 1, sims.shape[1])  # +1 to survive self-match removal
            idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, kk),
                    "neighbor_id": c_ids[idx].ravel(),
                    "cosine": np.take_along_axis(sims, idx, axis=1).ravel(),
                }
            )
            yield out[out["query_id"] != out["neighbor_id"]]

    from pyspark.sql import Window as W

    partial = corpus.select(id_col, vec_col).mapInPandas(
        _score, schema="query_id long, neighbor_id long, cosine double"
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _train_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int,
    sample_per_list: int = 50,
    iters: int = 8,
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
    import numpy as np

    n = corpus.count()
    target = n_lists * sample_per_list
    m = max(1, n // max(1, target))
    sample = (
        corpus.select(id_col, vec_col)
        .filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(m)) == 0)
        .collect()
    )
    # deterministic order for reproducible init (sample is driver-small)
    sample.sort(key=lambda r: r[id_col])
    mat = np.array([r[vec_col] for r in sample], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    k_eff = min(n_lists, len(mat))
    step = max(1, len(mat) // k_eff)
    cent = mat[::step][:k_eff].copy()
    for _ in range(iters):
        assign = np.argmax(mat @ cent.T, axis=1)
        for li in range(k_eff):
            members = mat[assign == li]
            if len(members):
                c = members.mean(axis=0)
                nrm = np.linalg.norm(c)
                if nrm > 0:
                    cent[li] = c / nrm
    return cent


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
    import numpy as np
    import pandas as pd

    cent = _train_centroids(corpus, id_col, vec_col, n_lists)

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([int(r[id_col]) for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    # probe matrix: probing[qi] = the n_probe nearest centroid ids
    probing = np.argsort(-(q_mat @ cent.T), axis=1)[:, :n_probe]

    def _score(batches):
        for pdf in batches:
            c_ids = pdf[id_col].to_numpy()
            c_mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
            lists = np.argmax(c_mat @ cent.T, axis=1)
            parts = []
            for li in np.unique(lists):
                qsel = np.nonzero((probing == li).any(axis=1))[0]
                csel = np.nonzero(lists == li)[0]
                if qsel.size == 0 or csel.size == 0:
                    continue
                sims = q_mat[qsel] @ c_mat[csel].T  # |probing queries| x |cell|
                kk = min(k + 1, sims.shape[1])  # +1 survives self-match removal
                idx = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
                parts.append(
                    pd.DataFrame(
                        {
                            "query_id": np.repeat(q_ids[qsel], kk),
                            "neighbor_id": c_ids[csel][idx].ravel(),
                            "cosine": np.take_along_axis(sims, idx, axis=1).ravel(),
                        }
                    )
                )
            if parts:
                out = pd.concat(parts, ignore_index=True)
                yield out[out["query_id"] != out["neighbor_id"]]

    from pyspark.sql import Window as W

    partial = corpus.select(id_col, vec_col).mapInPandas(
        _score, schema="query_id long, neighbor_id long, cosine double"
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


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
    import numpy as np
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
    from pyspark.sql import Window as W

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
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (F.expr(_dot("q_vec", "c_vec")) / (F.col("q_norm") * F.col("c_norm"))).alias("cosine"),
    )
    # a pair matching on both bands appears twice with an identical cosine
    dedup = scored.groupBy("query_id", "neighbor_id").agg(F.max("cosine").alias("cosine"))
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        dedup.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


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
    import numpy as np
    import pandas as pd
    from pyspark import StorageLevel

    cent = _train_centroids(corpus, id_col, vec_col, n_lists)

    def _assign(batches):
        for pdf in batches:
            vecs = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "list_id": np.argmax(vecs @ cent.T, axis=1).astype(np.int32),
                    "id": pdf[id_col].to_numpy(),
                    "vec": list(pdf[vec_col]),
                }
            )

    assigned = (
        corpus.select(id_col, vec_col)
        .mapInPandas(_assign, schema="list_id int, id long, vec array<double>")
        # the partitioned-landing stand-in: one shuffle partition per list,
        # independent of spark.sql.shuffle.partitions
        .repartition(n_lists, F.col("list_id"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    assigned.count()
    return cent, assigned


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
    import numpy as np
    import pandas as pd

    from ape_dts_spark.functions.dedup import keep_representatives

    if df.select(id_col).head(1) == []:  # empty corpus: nothing to train on
        return df.select(
            F.col(id_col).cast("long"), F.col(id_col).cast("long").alias("rep_id")
        )

    cent = _train_centroids(df, id_col, vec_col, n_lists)

    def _assign(batches):
        for pdf in batches:
            vecs = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
            yield pd.DataFrame(
                {
                    "list_id": np.argmax(vecs @ cent.T, axis=1).astype(np.int32),
                    "id": pdf[id_col].to_numpy(),
                    "vec": list(pdf[vec_col]),
                }
            )

    assigned = df.select(id_col, vec_col).mapInPandas(
        _assign, schema="list_id int, id long, vec array<double>"
    )

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        ids = pdf["id"].to_numpy()
        vecs = np.array(pdf["vec"].tolist(), dtype=np.float64)
        vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
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
    import numpy as np
    import pandas as pd

    cent, assigned = index
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([int(r[id_col]) for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    probing = np.argsort(-(q_mat @ cent.T), axis=1)[:, :n_probe]
    q_index = {int(q): i for i, q in enumerate(q_ids)}

    probe = assigned.sparkSession.createDataFrame(
        [(int(lid), int(qid)) for qi, qid in enumerate(q_ids) for lid in probing[qi]],
        "list_id int, query_id long",
    )
    cand = assigned.join(F.broadcast(probe), "list_id").filter(
        F.col("id") != F.col("query_id")
    )

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.array(pdf["vec"].tolist(), dtype=np.float64)
            vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
            qi = np.array([q_index[int(q)] for q in pdf["query_id"]])
            cos = np.einsum("ij,ij->i", q_mat[qi], vecs)
            yield pd.DataFrame(
                {"query_id": pdf["query_id"], "neighbor_id": pdf["id"], "cosine": cos}
            )

    from pyspark.sql import Window as W

    scored = cand.mapInPandas(_score, schema="query_id long, neighbor_id long, cosine double")
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _unit_rows(mat):
    """Row-normalize, clamping zero norms to eps: a zero vector stays zero
    instead of going NaN and silently poisoning codebooks / ADC tables."""
    import numpy as np

    nrm = np.linalg.norm(mat, axis=1, keepdims=True)
    return mat / np.maximum(nrm, 1e-12)


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
    import numpy as np

    n = corpus.count()
    target = ks * sample_per_code
    mod = max(1, n // max(1, target))
    sample = (
        corpus.select(id_col, vec_col)
        .filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod)) == 0)
        .collect()
    )
    sample.sort(key=lambda r: r[id_col])
    if not sample:
        raise ValueError(
            f"PQ codebook training sample is empty (corpus rows={n}, hash mod={mod}) "
            "— cannot train codebooks on zero vectors"
        )
    mat = np.array([r[vec_col] for r in sample], dtype=np.float64)
    return _kmeans_subspaces(_unit_rows(mat), m, ks, iters)


def _kmeans_subspaces(mat, m: int, ks: int, iters: int = 10):
    """Independent Lloyd k-means per subspace over an (n, dim) float64
    matrix with strided deterministic init. Returns (m, k_eff, dim//m)."""
    import numpy as np

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
            d2 = ((s[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(k_eff):
                members = s[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


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
    import numpy as np
    import pandas as pd

    books = _train_pq_codebooks(corpus, id_col, vec_col, m, ks)
    sub = books.shape[2]

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([int(r[id_col]) for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_mat = _unit_rows(q_mat)
    # ADC tables: tabs[qi, j, c] = ||q_sub_j - centroid_jc||^2
    tabs = np.stack(
        [
            ((q_mat[:, j * sub : (j + 1) * sub][:, None, :] - books[j][None, :, :]) ** 2).sum(
                axis=2
            )
            for j in range(m)
        ],
        axis=1,
    )

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf[id_col].to_numpy()
            c_mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            c_mat = _unit_rows(c_mat)
            # encode: codes[i, j] = nearest centroid of subvector j
            codes = np.empty((len(c_mat), m), dtype=np.int64)
            for j in range(m):
                s = c_mat[:, j * sub : (j + 1) * sub]
                d2 = ((s[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = np.argmin(d2, axis=1)
            # ADC: dist[qi, i] = sum_j tabs[qi, j, codes[i, j]] — one
            # (nq x n) table-lookup gather per subspace
            dist = np.zeros((len(q_ids), len(c_mat)))
            for j in range(m):
                dist += tabs[:, j, :][:, codes[:, j]]
            cand = min(k * rerank + 1, dist.shape[1])  # +1 survives self-match
            idx = np.argpartition(dist, cand - 1, axis=1)[:, :cand]
            # exact re-rank of the ADC survivors (vectors are local)
            rows = []
            for qi in range(len(q_ids)):
                sel = idx[qi]
                cos = c_mat[sel] @ q_mat[qi]
                rows.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(len(sel), q_ids[qi]),
                            "neighbor_id": c_ids[sel],
                            "cosine": cos,
                        }
                    )
                )
            out = pd.concat(rows, ignore_index=True)
            yield out[out["query_id"] != out["neighbor_id"]]

    from pyspark.sql import Window as W

    partial = corpus.select(id_col, vec_col).mapInPandas(
        _score, schema="query_id long, neighbor_id long, cosine double"
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


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
    import numpy as np
    import pandas as pd
    from pyspark import StorageLevel

    books = _train_pq_codebooks(corpus, id_col, vec_col, m, ks)
    sub = books.shape[2]

    def _encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            vecs = _unit_rows(vecs)
            codes = np.empty((len(vecs), m), dtype=np.int32)
            for j in range(m):
                s = vecs[:, j * sub : (j + 1) * sub]
                d2 = ((s[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = np.argmin(d2, axis=1)
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
    import numpy as np
    import pandas as pd

    books, encoded = index
    m, ks, sub = books.shape

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([int(r[id_col]) for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_mat = _unit_rows(q_mat)
    tabs = np.stack(
        [
            ((q_mat[:, j * sub : (j + 1) * sub][:, None, :] - books[j][None, :, :]) ** 2).sum(
                axis=2
            )
            for j in range(m)
        ],
        axis=1,
    )

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf["id"].to_numpy()
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            dist = np.zeros((len(q_ids), len(c_ids)))
            for j in range(m):
                dist += tabs[:, j, :][:, codes[:, j]]
            cand = min(k + 1, dist.shape[1])
            idx = np.argpartition(dist, cand - 1, axis=1)[:, :cand]
            rows = []
            for qi in range(len(q_ids)):
                sel = idx[qi]
                rows.append(
                    pd.DataFrame(
                        {
                            "query_id": np.full(len(sel), q_ids[qi]),
                            "neighbor_id": c_ids[sel],
                            "dist": dist[qi, sel],
                        }
                    )
                )
            out = pd.concat(rows, ignore_index=True)
            yield out[out["query_id"] != out["neighbor_id"]]

    from pyspark.sql import Window as W

    partial = encoded.mapInPandas(
        _score, schema="query_id long, neighbor_id long, dist double"
    )
    w = W.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )

def _train_residual_books(corpus, id_col, vec_col, cent, m, ks, sample_per_code=40, iters=10):
    """Residual PQ codebooks for IVF-PQ (Jegou et al. 2011 SIV, IVFADC):
    hash-mod sample -> unit rows -> subtract each vector's nearest coarse
    centroid -> shared per-subspace k-means over the residuals. One codebook
    set is shared across all cells (the paper's memory-efficient variant)."""
    import numpy as np

    n = corpus.count()
    target = ks * sample_per_code
    mod = max(1, n // max(1, target))
    sample = (
        corpus.select(id_col, vec_col)
        .filter(F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod)) == 0)
        .collect()
    )
    sample.sort(key=lambda r: r[id_col])
    if not sample:
        raise ValueError(
            f"IVF-PQ residual training sample is empty (corpus rows={n}, hash mod={mod})"
        )
    mat = _unit_rows(np.array([r[vec_col] for r in sample], dtype=np.float64))
    assign = np.argmax(mat @ cent.T, axis=1)
    resid = mat - cent[assign]
    return _kmeans_subspaces(resid, m, ks, iters)


def _adc_tables(q_mat, cent, probing, books):
    """tabs[qi, pi, j, c] = ||(q - cent[probing[qi, pi]])_sub_j - books[j][c]||^2
    — one ADC table per (query, probed cell), since IVF-PQ residuals are
    relative to the probed cell's centroid. Bounded by the query set:
    nq x n_probe x m x ks doubles."""
    import numpy as np

    nq, n_probe = probing.shape
    m, ks, sub = books.shape
    tabs = np.empty((nq, n_probe, m, ks))
    for pi in range(n_probe):
        resid = q_mat - cent[probing[:, pi]]
        for j in range(m):
            s = resid[:, j * sub : (j + 1) * sub]
            tabs[:, pi, j, :] = ((s[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
    return tabs


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
    import numpy as np
    import pandas as pd

    cent = _train_centroids(corpus, id_col, vec_col, n_lists)
    books = _train_residual_books(corpus, id_col, vec_col, cent, m, ks)
    sub = books.shape[2]

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([int(r[id_col]) for r in q_rows])
    q_mat = _unit_rows(np.array([r[vec_col] for r in q_rows], dtype=np.float64))
    probing = np.argsort(-(q_mat @ cent.T), axis=1)[:, :n_probe]
    tabs = _adc_tables(q_mat, cent, probing, books)

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf[id_col].to_numpy()
            c_mat = _unit_rows(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            lists = np.argmax(c_mat @ cent.T, axis=1)
            resid = c_mat - cent[lists]
            codes = np.empty((len(c_mat), m), dtype=np.int64)
            for j in range(m):
                s = resid[:, j * sub : (j + 1) * sub]
                d2 = ((s[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = np.argmin(d2, axis=1)
            rows = []
            for li in np.unique(lists):
                csel = np.nonzero(lists == li)[0]
                hits = np.nonzero(probing == li)
                for qi, pi in zip(*hits):
                    # ADC over this cell's members for this query:
                    # dist[i] = sum_j t[j, codes[i, j]] via a broadcast gather
                    t = tabs[qi, pi]
                    dist = t[np.arange(m), codes[csel]].sum(axis=1)
                    cand = min(k * rerank + 1, len(csel))
                    idx = np.argpartition(dist, cand - 1)[:cand]
                    sel = csel[idx]
                    cos = c_mat[sel] @ q_mat[qi]  # exact re-rank, vectors local
                    rows.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(len(sel), q_ids[qi]),
                                "neighbor_id": c_ids[sel],
                                "cosine": cos,
                            }
                        )
                    )
            if rows:
                out = pd.concat(rows, ignore_index=True)
                yield out[out["query_id"] != out["neighbor_id"]]

    from pyspark.sql import Window as W

    partial = corpus.select(id_col, vec_col).mapInPandas(
        _score, schema="query_id long, neighbor_id long, cosine double"
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


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
    import numpy as np
    import pandas as pd
    from pyspark import StorageLevel

    cent = _train_centroids(corpus, id_col, vec_col, n_lists)
    books = _train_residual_books(corpus, id_col, vec_col, cent, m, ks)

    encoded = (
        corpus.select(id_col, vec_col)
        .mapInPandas(_ivfpq_encoder(cent, books, m, id_col, vec_col), schema=_IVFPQ_CODES_SCHEMA)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    encoded.count()
    return cent, books, encoded


_IVFPQ_CODES_SCHEMA = "id long, cell int, codes array<int>, err double"


def _ivfpq_encoder(cent, books, m: int, id_col: str, vec_col: str):
    """mapInPandas closure encoding vectors against FROZEN centroids +
    residual codebooks. ``err`` is each vector's squared residual
    reconstruction error — the quantization quality the codebooks were
    trained to minimize, recorded so index maintenance can measure drift."""

    def _encode(batches):
        import numpy as np
        import pandas as pd

        sub = books.shape[2]
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = _unit_rows(np.array(pdf[vec_col].tolist(), dtype=np.float64))
            lists = np.argmax(vecs @ cent.T, axis=1)
            resid = vecs - cent[lists]
            codes = np.empty((len(vecs), m), dtype=np.int32)
            recon = np.empty_like(resid)
            for j in range(m):
                s = resid[:, j * sub : (j + 1) * sub]
                d2 = ((s[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = np.argmin(d2, axis=1)
                recon[:, j * sub : (j + 1) * sub] = books[j][codes[:, j]]
            err = ((resid - recon) ** 2).sum(axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(),
                    "cell": lists,
                    "codes": list(codes),
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
    m = books.shape[0]
    appended = (
        new_batch.select(id_col, vec_col)
        .mapInPandas(_ivfpq_encoder(cent, books, m, id_col, vec_col), schema=_IVFPQ_CODES_SCHEMA)
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
    import numpy as np
    import pandas as pd

    cent, books, encoded = index

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([int(r[id_col]) for r in q_rows])
    q_mat = _unit_rows(np.array([r[vec_col] for r in q_rows], dtype=np.float64))
    probing = np.argsort(-(q_mat @ cent.T), axis=1)[:, :n_probe]
    tabs = _adc_tables(q_mat, cent, probing, books)
    probed_cells = sorted({int(c) for c in probing.ravel()})

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf["id"].to_numpy()
            cells = pdf["cell"].to_numpy()
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            rows = []
            for li in np.unique(cells):
                csel = np.nonzero(cells == li)[0]
                for qi, pi in zip(*np.nonzero(probing == li)):
                    t = tabs[qi, pi]
                    dist = t[np.arange(t.shape[0]), codes[csel]].sum(axis=1)
                    cand = min(k + 1, len(csel))
                    idx = np.argpartition(dist, cand - 1)[:cand]
                    sel = csel[idx]
                    rows.append(
                        pd.DataFrame(
                            {
                                "query_id": np.full(len(sel), q_ids[qi]),
                                "neighbor_id": c_ids[sel],
                                "dist": dist[idx],
                            }
                        )
                    )
            if rows:
                out = pd.concat(rows, ignore_index=True)
                yield out[out["query_id"] != out["neighbor_id"]]

    from pyspark.sql import Window as W

    partial = encoded.filter(F.col("cell").isin(probed_cells)).mapInPandas(
        _score, schema="query_id long, neighbor_id long, dist double"
    )
    w = W.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("neighbor_id"))
    if rerank_with is None:
        return (
            partial.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank")
        )
    survivors = (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k * rerank)
        .select("query_id", "neighbor_id")
    )
    # fetch ONLY the survivors' vectors: broadcast the tiny survivor relation
    # onto the cold-storage vector table, then exact cosine per pair (the
    # query vectors ride along the same way — both sides are query-bounded)
    n_vec = rerank_with.select(
        F.col(id_col).alias("neighbor_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("c_vec"),
    )
    q_vec = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("q_vec"),
    )
    nrm = "sqrt(aggregate(zip_with({v}, {v}, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
    scored = (
        n_vec.join(F.broadcast(survivors), "neighbor_id")
        .join(F.broadcast(q_vec), "query_id")
        .withColumn(
            "cosine",
            F.expr(_dot("q_vec", "c_vec"))
            / (F.expr(nrm.format(v="q_vec")) * F.expr(nrm.format(v="c_vec"))),
        )
    )
    w2 = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


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
    import numpy as np
    import pandas as pd

    dim = len(corpus.select(vec_col).first()[0])
    bounds_row = corpus.agg(
        *[F.min(F.col(vec_col)[i]).alias(f"lo{i}") for i in range(dim)],
        *[F.max(F.col(vec_col)[i]).alias(f"hi{i}") for i in range(dim)],
    ).collect()[0]
    lo = np.array([bounds_row[f"lo{i}"] for i in range(dim)], dtype=np.float64)
    hi = np.array([bounds_row[f"hi{i}"] for i in range(dim)], dtype=np.float64)
    span = np.where(hi > lo, hi - lo, 1.0)

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([int(r[id_col]) for r in q_rows])
    q_mat = _unit_rows(np.array([r[vec_col] for r in q_rows], dtype=np.float64))

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf[id_col].to_numpy()
            c_mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.clip(np.rint((c_mat - lo) / span * 255.0), 0, 255).astype(np.uint8)
            deq = _unit_rows(lo + codes.astype(np.float64) * span / 255.0)
            approx = deq @ q_mat.T  # (n, nq) dequantized cosine
            cand = min(k * rerank + 1, len(c_mat))
            idx = np.argpartition(-approx, cand - 1, axis=0)[:cand].T  # (nq, cand)
            exact = _unit_rows(c_mat)
            rows = []
            for qi in range(len(q_ids)):
                sel = idx[qi]
                cos = exact[sel] @ q_mat[qi]
                rows.append(pd.DataFrame({
                    "query_id": np.full(len(sel), q_ids[qi]),
                    "neighbor_id": c_ids[sel],
                    "cosine": cos,
                }))
            out = pd.concat(rows, ignore_index=True)
            yield out[out["query_id"] != out["neighbor_id"]]

    from pyspark.sql import Window as W

    partial = corpus.select(id_col, vec_col).mapInPandas(
        _score, schema="query_id long, neighbor_id long, cosine double"
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


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
    import numpy as np
    from pyspark import StorageLevel

    dim = len(corpus.select(vec_col).first()[0])
    bounds_row = corpus.agg(
        *[F.min(F.col(vec_col)[i]).alias(f"lo{i}") for i in range(dim)],
        *[F.max(F.col(vec_col)[i]).alias(f"hi{i}") for i in range(dim)],
    ).collect()[0]
    lo = np.array([bounds_row[f"lo{i}"] for i in range(dim)], dtype=np.float64)
    hi = np.array([bounds_row[f"hi{i}"] for i in range(dim)], dtype=np.float64)
    span = np.where(hi > lo, hi - lo, 1.0)

    def _encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            c_mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.clip(np.rint((c_mat - lo) / span * 255.0), 0, 255).astype(np.int64)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy(),
                "codes": list(codes),
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
    import numpy as np
    import pandas as pd

    (lo, span), codes = index
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([int(r[id_col]) for r in q_rows])
    q_mat = _unit_rows(np.array([r[vec_col] for r in q_rows], dtype=np.float64))

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf[id_col].to_numpy()
            code_mat = np.array(pdf["codes"].tolist(), dtype=np.float64)
            deq = _unit_rows(lo + code_mat * span / 255.0)
            approx = deq @ q_mat.T
            cand = min(k * rerank + 1, len(c_ids))
            idx = np.argpartition(-approx, cand - 1, axis=0)[:cand].T
            rows = []
            for qi in range(len(q_ids)):
                sel = idx[qi]
                rows.append(pd.DataFrame({
                    "query_id": np.full(len(sel), q_ids[qi]),
                    "neighbor_id": c_ids[sel],
                    "cosine": approx[sel, qi],
                }))
            out = pd.concat(rows, ignore_index=True)
            yield out[out["query_id"] != out["neighbor_id"]]

    from pyspark.sql import Window as W

    partial = codes.mapInPandas(_score, schema="query_id long, neighbor_id long, cosine double")
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    survivors = (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k * rerank)
        .drop("rank")
    )
    if rerank_with is None:
        w2 = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
        return (
            survivors.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank")
        )
    vec = rerank_with.select(
        F.col(id_col).alias("neighbor_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("c_vec"),
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("q_vec"),
    )
    nq = with_norm(qv.withColumnRenamed("q_vec", "embedding"), "embedding", "q_norm").select(
        "query_id", F.col("embedding").alias("q_vec"), "q_norm"
    )
    nc = with_norm(vec.withColumnRenamed("c_vec", "embedding"), "embedding", "c_norm").select(
        "neighbor_id", F.col("embedding").alias("c_vec"), "c_norm"
    )
    exact = (
        survivors.select("query_id", "neighbor_id")
        .join(nc, "neighbor_id")
        .join(F.broadcast(nq), "query_id")
        .withColumn("cos", F.expr(_dot("q_vec", "c_vec")) / (F.col("q_norm") * F.col("c_norm")))
    )
    w3 = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w3))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )
