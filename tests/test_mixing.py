"""Training-data mixing: exact stratified quotas + greedy sequence packing."""

from pyspark.sql import functions as F

from ape_dts_spark.functions import mixing as mx


def test_stratified_quota_exact_counts(spark):
    rows = [(i, "en" if i % 3 else "de") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = mx.stratified_quota(df, "lang", 10, "doc_id")
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"en": 10, "de": 10}


def test_stratified_quota_growth_is_stable(spark):
    """Raising a quota only adds rows — earlier selections never swap (what
    makes mix rebalancing reproducible across runs)."""
    df = spark.createDataFrame([(i, "en") for i in range(50)], "doc_id long, lang string")
    small = {r["doc_id"] for r in mx.stratified_quota(df, "lang", 10, "doc_id").collect()}
    big = {r["doc_id"] for r in mx.stratified_quota(df, "lang", 20, "doc_id").collect()}
    assert small < big and len(small) == 10 and len(big) == 20


def test_stratified_quota_per_group_mapping(spark):
    df = spark.createDataFrame(
        [(i, "en" if i < 60 else "de") for i in range(80)], "doc_id long, lang string"
    )
    out = mx.stratified_quota(df, "lang", {"en": 5, "de": 15}, "doc_id")
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"en": 5, "de": 15}


def test_sequence_packing_greedy_semantics(spark):
    # one shard (ids all ≡ 0 mod 1): tokens 60,60,60 at budget 100 must give
    # three sequences — the case where cumsum boundary-chunking mis-bins
    df = spark.createDataFrame(
        [(0, 60), (1, 60), (2, 60)], "doc_id long, n_tokens long"
    )
    out = mx.sequence_packing(df, "n_tokens", budget=100, id_col="doc_id", n_shards=1)
    seqs = [r["seq_id"] for r in out.orderBy("doc_id").collect()]
    assert seqs == [0, 1, 2]


def test_sequence_packing_fills_and_oversized(spark):
    # 50+50 fill a sequence exactly; a 300-token doc owns one; next doc opens fresh
    df = spark.createDataFrame(
        [(0, 50), (1, 50), (2, 300), (3, 10), (4, 80)], "doc_id long, n_tokens long"
    )
    out = mx.sequence_packing(df, "n_tokens", budget=100, id_col="doc_id", n_shards=1)
    got = {r["doc_id"]: r["seq_id"] for r in out.collect()}
    assert got == {0: 0, 1: 0, 2: 1, 3: 2, 4: 2}


def test_sequence_packing_no_docs_lost_across_shards(spark):
    df = spark.createDataFrame([(i, 10 + i % 7) for i in range(200)], "doc_id long, n_tokens long")
    out = mx.sequence_packing(df, "n_tokens", budget=64, id_col="doc_id", n_shards=8)
    assert out.count() == 200
    assert out.select("doc_id").distinct().count() == 200
    # no doc is oversized here, so every sequence respects the budget
    fills = mx.pack_summary(out).collect()
    assert fills and all(r["seq_tokens"] <= 64 for r in fills)


def test_sequence_packing_zero_token_matches_oracle(spark):
    # zero-token doc, then an over-budget doc: the kernel's fill>0 guard keeps
    # both in the open (empty) sequence; the recursive-CTE oracle must agree
    # (it opened a fresh sequence before the g.fill > 0 condition was added)
    import duckdb

    rows = [(0, 0), (1, 300), (2, 10)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = mx.sequence_packing(df, "n_tokens", budget=100, id_col="doc_id", n_shards=1)
    got = sorted((r["doc_id"], r["seq_id"]) for r in out.collect())
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, n_tokens BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = mx.sequence_packing_sql("SELECT doc_id, n_tokens FROM t", 100, "doc_id", 1)
    want = sorted((r[0], r[3]) for r in con.execute(sql).fetchall())
    assert got == want == [(0, 0), (1, 0), (2, 1)]


def test_deterministic_shuffle_properties(spark):
    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    out = mx.deterministic_shuffle(df, "doc_id", n_shards=8, seed=3).collect()
    assert len(out) == 200 and len({r["doc_id"] for r in out}) == 200
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    # positions are dense 0..n-1 inside every shard
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    # deterministic: same seed reproduces, different seed permutes
    again = mx.deterministic_shuffle(df, "doc_id", n_shards=8, seed=3).collect()
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in again} == {
        (r["doc_id"], r["shard"], r["pos"]) for r in out
    }
    other = mx.deterministic_shuffle(df, "doc_id", n_shards=8, seed=4).collect()
    assert {(r["doc_id"], r["shard"]) for r in other} != {(r["doc_id"], r["shard"]) for r in out}
    # shuffle actually scrambles: in-shard order is not id order
    first_shard = max(by_shard.items(), key=lambda kv: len(kv[1]))[0]
    ids_in_pos_order = [
        r["doc_id"] for r in sorted(out, key=lambda r: r["pos"]) if r["shard"] == first_shard
    ]
    assert ids_in_pos_order != sorted(ids_in_pos_order)


def test_token_quota_budget_semantics(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, "en", 40) for i in range(10)] + [(100, "de", 500), (101, "de", 10)],
        "doc_id long, lang string, n_chars long",
    )
    out = mx.token_quota(df, "lang", 100, "n_chars", "doc_id").collect()
    en = [r for r in out if r["lang"] == "en"]
    # budget 100 at 40 tokens/doc: docs at cum 40, 80, 120 are kept (the
    # third starts before exhaustion and overshoots), the fourth is not
    assert len(en) == 3 and max(r["cum_tokens"] for r in en) == 120
    de = sorted((r["doc_id"], r["cum_tokens"]) for r in out if r["lang"] == "de")
    # first de doc in hash order is kept even though it alone overshoots
    assert len(de) >= 1
    # growth stability: a bigger budget only adds docs
    small = {r["doc_id"] for r in out}
    big = {r["doc_id"] for r in mx.token_quota(df, "lang", 200, "n_chars", "doc_id").collect()}
    assert small <= big


def test_token_quota_per_group_budgets(spark):
    df = spark.createDataFrame(
        [(i, "en" if i < 6 else "de", 50) for i in range(12)],
        "doc_id long, lang string, n_chars long",
    )
    out = mx.token_quota(df, "lang", {"en": 100, "de": 250}, "n_chars", "doc_id").collect()
    counts = {}
    for r in out:
        counts[r["lang"]] = counts.get(r["lang"], 0) + 1
    assert counts == {"en": 2, "de": 5}  # 100/50=2 docs; 250/50=5 docs


def test_source_caps_exact_cap_and_stability(spark):
    df = spark.createDataFrame(
        [(i, "big" if i < 80 else "small") for i in range(100)], "doc_id long, source string"
    )
    out = mx.source_caps(df, "doc_id", "source", cap=15, seed=0)
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # cap=15 truncates BOTH sources (big has 80 docs, small has 20)
    assert counts == {"big": 15, "small": 15}
    # at cap=25 the megadomain is capped while the under-cap source passes whole
    out5 = mx.source_caps(df, "doc_id", "source", cap=25, seed=0)
    counts5 = {r["source"]: r["n"] for r in out5.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts5 == {"big": 25, "small": 20}
    assert out.filter(F.col("rk") > 15).count() == 0
    # raising the cap only ADDS docs (stable membership, like quotas)
    small = {r["doc_id"] for r in out.collect()}
    big = {r["doc_id"] for r in out5.collect()}
    assert small < big
    # skewed corpus: one 5000-doc megadomain beside seven 10-doc sources —
    # the megadomain keeps exactly ranks 1..cap, the small sources pass whole
    rows = [(i, "mega") for i in range(5000)] + [
        (10_000 + i, f"s{i % 7}") for i in range(70)
    ]
    skewed = spark.createDataFrame(rows, "doc_id long, source string")
    ranks: dict = {}
    for r in mx.source_caps(skewed, cap=40, seed=5).collect():
        ranks.setdefault(r["source"], []).append(r["rk"])
    assert sorted(ranks["mega"]) == list(range(1, 41))
    assert {s: len(v) for s, v in ranks.items() if s != "mega"} == {f"s{i}": 10 for i in range(7)}


def test_source_caps_seed_changes_membership(spark):
    df = spark.createDataFrame([(i, "s") for i in range(200)], "doc_id long, source string")
    a = {r["doc_id"] for r in mx.source_caps(df, "doc_id", "source", 30, seed=0).collect()}
    b = {r["doc_id"] for r in mx.source_caps(df, "doc_id", "source", 30, seed=1).collect()}
    assert len(a) == len(b) == 30 and a != b


def test_unimax_water_filling(spark):
    """Hand-computed UniMax (Chung et al. 2023) water-fill: caps = 2*n,
    budget between saturation points — tail languages saturate and repeat,
    head languages sit at the integer level; budget above total capacity
    saturates everyone."""
    from ape_dts_spark.functions.mixing import unimax_sample

    rows = [(i, "tail") for i in range(3)] + [(100 + i, "head") for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    # caps: tail 6, head 40. budget 20: i0=1 (6 + 6*1 = 12 <= 20), level =
    # (20-6)/1 = 14 for head -> alloc tail 6 (2 epochs), head 14 (epoch 0)
    out = unimax_sample(df, budget=20, max_epochs=2)
    per = {(r["lang"], r["epoch"]) for r in out.collect()}
    alloc = {r["lang"]: r["alloc"] for r in out.collect()}
    assert alloc == {"tail": 6, "head": 14}
    assert ("tail", 1) in per and ("head", 1) not in per
    assert out.count() == 20
    # budget >= total capacity: everyone saturates at max_epochs
    full = unimax_sample(df, budget=100, max_epochs=2)
    assert full.count() == 46  # 6 + 40
    # remainder spread: budget 21 -> head gets 15 (the +1), total exact
    odd = unimax_sample(df, budget=21, max_epochs=2)
    assert odd.count() == 21


def test_hash_split_deterministic_and_partition_invariant(spark):
    from ape_dts_spark.functions.mixing import hash_split

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    a = {r["doc_id"]: r["split"] for r in hash_split(df).collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(df.repartition(17)).collect()}
    assert a == b  # partitioning can never move a doc between splits
    # ratios land near 90/5/5 (md5 is uniform; 2000 docs -> generous bounds)
    from collections import Counter

    c = Counter(a.values())
    assert 0.03 * 2000 < c["val"] < 0.08 * 2000
    assert 0.03 * 2000 < c["test"] < 0.08 * 2000
    assert c["train"] > 0.85 * 2000


def test_hash_split_salt_changes_assignment(spark):
    from ape_dts_spark.functions.mixing import hash_split

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    a = {r["doc_id"]: r["bucket"] for r in hash_split(df, salt="v1").collect()}
    b = {r["doc_id"]: r["bucket"] for r in hash_split(df, salt="v2").collect()}
    assert a != b
