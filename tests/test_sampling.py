"""Sampling/split/packing invariants: partition-layout independence,
fraction accuracy, disjoint exhaustive splits, packing arithmetic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trough_spark.operators import sampling as SA


def test_hash_sample_stable_under_repartition(spark):
    df = spark.range(2000).select(F.col("id"))
    a = {r["id"] for r in SA.hash_sample(df, "id", 0.3).collect()}
    b = {r["id"] for r in SA.hash_sample(df.repartition(13), "id", 0.3).collect()}
    c = {r["id"] for r in SA.hash_sample(df.coalesce(1), "id", 0.3).collect()}
    assert a == b == c
    assert abs(len(a) / 2000 - 0.3) < 0.05


def test_hash_sample_fraction_edges(spark):
    df = spark.range(100)
    assert SA.hash_sample(df, "id", 0.0).count() == 0
    assert SA.hash_sample(df, "id", 1.0).count() == 100
    with pytest.raises(ValueError):
        SA.hash_sample(df, "id", 1.5)


def test_hash_sample_salt_decorrelates(spark):
    df = spark.range(1000)
    a = {r["id"] for r in SA.hash_sample(df, "id", 0.5, salt="s1").collect()}
    b = {r["id"] for r in SA.hash_sample(df, "id", 0.5, salt="s2").collect()}
    overlap = len(a & b) / max(len(a), 1)
    assert 0.3 < overlap < 0.7  # independent 50% samples overlap ~50%


def test_hash_split_disjoint_exhaustive_proportional(spark):
    df = spark.range(5000)
    out = SA.hash_split(df, "id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 5000  # exhaustive, disjoint by construction
    assert abs(counts["train"] / 5000 - 0.8) < 0.03
    assert abs(counts["val"] / 5000 - 0.1) < 0.03
    assert abs(counts["test"] / 5000 - 0.1) < 0.03
    with pytest.raises(ValueError):
        SA.hash_split(df, "id", {"a": 0.5, "b": 0.2})


def test_stratified_sample_per_stratum(spark):
    df = spark.range(4000).select(
        "id", F.when(F.col("id") % 2 == 0, "big").otherwise("small").alias("g")
    )
    out = SA.stratified_sample(df, "id", "g", {"big": 0.1, "small": 0.9})
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert abs(counts["big"] / 2000 - 0.1) < 0.04
    assert abs(counts["small"] / 2000 - 0.9) < 0.04


def test_stratified_default_fraction_drops_unknown(spark):
    df = spark.range(100).select("id", F.lit("other").alias("g"))
    assert SA.stratified_sample(df, "id", "g", {"known": 1.0}).count() == 0


def test_pack_sequences_arithmetic(spark):
    rows = [(i, "g", 100) for i in range(10)]  # 10 docs x 100 tokens, budget 256
    df = spark.createDataFrame(rows, "doc_id bigint, g string, n bigint")
    out = {
        r["doc_id"]: (r["bin_id"], r["bin_offset"])
        for r in SA.pack_sequences(df, "doc_id", "n", 256, partition_by="g").collect()
    }
    # cumsum before doc i is 100*i → bin floor(100i/256), offset 100i mod 256
    for i in range(10):
        assert out[i] == (100 * i // 256, 100 * i % 256), (i, out[i])


def test_pack_sequences_partitions_independent(spark):
    rows = [(1, "a", 50), (2, "a", 50), (1, "b", 50), (2, "b", 50)]
    df = spark.createDataFrame(rows, "doc_id bigint, g string, n bigint")
    out = SA.pack_sequences(df, "doc_id", "n", 64, partition_by="g").collect()
    for r in out:
        expect = (0, 0) if r["doc_id"] == 1 else (0, 50)
        assert (r["bin_id"], r["bin_offset"]) == expect


def test_mix_rebalance_respects_budget_and_determinism(spark):
    from trough_spark.operators.sampling import mix_rebalance

    rows = [(i, "a" if i < 800 else ("b" if i < 900 else "c")) for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # target 50/25/25 but 'c' has only 100 rows -> budget = 100/0.25 = 400
    weights = {"a": 0.5, "b": 0.25, "c": 0.25}
    kept = mix_rebalance(df, "doc_id", "source", weights)
    rates = {r.source: r.rate_ppm for r in kept.select("source", "rate_ppm").distinct().collect()}
    assert rates["c"] == 1000000  # scarcest stratum fully kept
    assert rates["a"] == 250000  # 400 * 0.5 / 800
    assert rates["b"] == 1000000  # 400 * 0.25 / 100 capped at 1
    # deterministic: same keep-set on rerun
    ids1 = {r.doc_id for r in kept.collect()}
    ids2 = {r.doc_id for r in mix_rebalance(df, "doc_id", "source", weights).collect()}
    assert ids1 == ids2
    # dropped-stratum rows vanish
    kept_partial = mix_rebalance(df, "doc_id", "source", {"a": 0.7, "b": 0.3})
    assert kept_partial.where(F.col("source") == "c").count() == 0


def test_group_cap_caps_and_is_scan_order_independent(spark):
    from trough_spark.operators import sampling as SA

    rows = [(i, f"s{i % 3}") for i in range(90)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    out = SA.group_cap(df, "doc_id", "source", cap=7)
    got = out.collect()
    per = {}
    for r in got:
        per.setdefault(r["source"], set()).add(r["doc_id"])
    assert all(len(v) == 7 for v in per.values())
    # the kept SET is a function of the data, not the scan order
    shuffled = spark.createDataFrame(list(reversed(rows)), "doc_id bigint, source string")
    got2 = SA.group_cap(shuffled.repartition(7), "doc_id", "source", cap=7).collect()
    assert {(r["doc_id"], r["source"]) for r in got} == {
        (r["doc_id"], r["source"]) for r in got2
    }
    with pytest.raises(ValueError):
        SA.group_cap(df, "doc_id", "source", cap=0)


def test_pack_sequences_sharded_dense_and_consistent(spark):
    rows = [(i, f"g{i % 2}", 100 + (i * 37) % 300) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id bigint, g string, n_tokens bigint")
    out = SA.pack_sequences_sharded(
        df, "doc_id", "n_tokens", budget=512, n_shards=4, partition_by="g"
    )
    got = out.collect()
    assert len(got) == 400
    per = {}
    for r in got:
        per.setdefault(r["g"], []).append(r)
    for g, rs in per.items():
        bins = {r["bin_id"] for r in rs}
        # global bin ids are dense 0..max per group despite sharding
        assert bins == set(range(max(bins) + 1)), g
        # within a (shard, bin), offsets are the running sum in id order
        by_shard_bin = {}
        for r in rs:
            by_shard_bin.setdefault((r["sub_shard"], r["bin_id"]), []).append(r)
        for grp in by_shard_bin.values():
            grp.sort(key=lambda r: r["doc_id"])
            for a, b in zip(grp, grp[1:]):
                assert b["bin_offset"] == a["bin_offset"] + a["n_tokens"]
    # layout-independent: same result from a different partitioning
    again = SA.pack_sequences_sharded(
        df.repartition(11), "doc_id", "n_tokens", 512, 4, partition_by="g"
    ).collect()
    key = lambda r: (r["g"], r["doc_id"])
    assert sorted(map(tuple, got), key=lambda t: (t[0], t[1])) == sorted(
        map(tuple, again), key=lambda t: (t[0], t[1])
    )
    with pytest.raises(ValueError):
        SA.pack_sequences_sharded(df, "doc_id", "n_tokens", 512, 0, partition_by="g")


def test_pack_sequences_sharded_bounded_waste(spark):
    """Sharding wastes at most one partial bin per sub-shard: total bins
    used must be within n_shards of the unsharded packing's bin count."""
    rows = [(i, 100 + (i * 37) % 300) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id bigint, n_tokens bigint")
    unsharded = SA.pack_sequences(df, "doc_id", "n_tokens", budget=512)
    sharded = SA.pack_sequences_sharded(df, "doc_id", "n_tokens", 512, 4)
    n0 = unsharded.agg(F.max("bin_id")).collect()[0][0] + 1
    n1 = sharded.agg(F.max("bin_id")).collect()[0][0] + 1
    assert n0 <= n1 <= n0 + 4, (n0, n1)


def test_train_order_deterministic_and_contiguous(spark):
    df = spark.range(1000).select(F.col("id"))
    out = SA.train_order(df, "id", n_shards=4, salt="e0")
    rows = out.collect()
    assert len(rows) == 1000
    # positions within each shard are a contiguous 0..n_i-1 run
    per = {}
    for r in rows:
        per.setdefault(r["shard"], []).append(r["pos"])
    assert set(per) <= set(range(4))
    for poss in per.values():
        assert sorted(poss) == list(range(len(poss)))
    # hash-uniform shards stay balanced
    assert max(len(v) for v in per.values()) < 2 * min(len(v) for v in per.values())
    # (shard, pos) is a function of (key, salt) — not of partition layout
    again = {
        (r["id"], r["shard"], r["pos"])
        for r in SA.train_order(df.repartition(13), "id", 4, salt="e0").collect()
    }
    assert {(r["id"], r["shard"], r["pos"]) for r in rows} == again


def test_train_order_new_salt_reshuffles(spark):
    df = spark.range(500)
    e0 = {(r["id"], r["shard"], r["pos"]) for r in SA.train_order(df, "id", 4, salt="e0").collect()}
    e1 = {(r["id"], r["shard"], r["pos"]) for r in SA.train_order(df, "id", 4, salt="e1").collect()}
    assert e0 != e1  # a new epoch is a genuinely different order
    with pytest.raises(ValueError):
        SA.train_order(df, "id", 0)


def test_multigrain_rollup_levels_are_consistent(spark):
    """Each grain's totals must re-aggregate exactly to the coarser grain's
    (associative partial states), and the finest grain must equal a direct
    group-by of the input."""
    from trough_spark.operators.temporal import multigrain_rollup
    from trough_spark.tables import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    out = multigrain_rollup(events, "ts", "value").collect()
    by_grain = {}
    for r in out:
        by_grain.setdefault(r["grain"], []).append(r)
    totals = {
        g: (sum(r["n_events"] for r in rs), round(sum(r["total_value"] for r in rs), 2))
        for g, rs in by_grain.items()
    }
    assert totals["minute"] == totals["hour"] == totals["day"]
    assert totals["minute"][0] == events.count()


def test_temperature_sample_rates_and_scarcest_kept_whole(spark):
    """alpha=0.5 rates are sqrt(n_min/n_s) in exact ppm; the scarcest
    stratum keeps every row; the decision is layout-independent."""
    rows = (
        [("a", i) for i in range(400)]
        + [("b", i + 1000) for i in range(100)]
        + [("c", i + 2000) for i in range(25)]
    )
    df = spark.createDataFrame(rows, "lang string, id long")
    kept = SA.temperature_sample(df, "id", "lang", alpha=0.5)
    rates = {r["lang"]: r["rate_ppm"] for r in kept.select("lang", "rate_ppm").distinct().collect()}
    assert rates == {"a": 250000, "b": 500000, "c": 1000000}
    got = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got["c"] == 25  # rate 1.0: nothing wasted on the scarcest stratum
    again = {
        (r["lang"], r["id"])
        for r in SA.temperature_sample(df.repartition(7), "id", "lang", alpha=0.5).collect()
    }
    assert {(r["lang"], r["id"]) for r in kept.collect()} == again
    with pytest.raises(ValueError):
        SA.temperature_sample(df, "id", "lang", alpha=1.5)


def test_dsir_weights_separate_target_like_docs(spark):
    """Docs sharing the target subset's n-gram profile score above docs
    from a disjoint vocabulary, and n_feats = unigrams + bigrams."""
    target_text = "the quick brown fox jumps over the lazy dog"
    other_text = "zzz qqq www eee rrr ttt yyy uuu iii"
    rows = (
        [(i, "en", target_text) for i in range(10)]
        + [(100, "xx", target_text)]      # target-like but NOT in the target set
        + [(i + 200, "xx", other_text) for i in range(10)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = SA.dsir_weights(df, "doc_id", "text", target=F.col("lang") == "en")
    scores = {r["id"]: (r["n_feats"], r["dsir_score"]) for r in out.collect()}
    n_tok = len(target_text.split())
    assert scores[100][0] == n_tok + (n_tok - 1)  # unigrams + bigrams
    # the target-like out-of-set doc outscores every disjoint-vocab doc
    assert scores[100][1] > max(scores[i + 200][1] for i in range(10))


def test_weighted_sample_proportional_and_exact(spark):
    """E-S inclusion tracks weight, the draw is exactly reproducible by an
    independent python recomputation, and zero/negative weights never win."""
    import hashlib
    import math

    rows = [(i, float(10 ** (i % 3))) for i in range(600)]  # weights 1/10/100
    rows += [(1000, 0.0), (1001, -5.0)]
    df = spark.createDataFrame(rows, "id bigint, w double")
    out = SA.weighted_sample(df, "id", "w", k=60)
    got = [(r["id"], r["arrival_micro"]) for r in out.collect()]

    def arrival(i, w):
        h = int(hashlib.md5(f"{i}:wsample".encode()).hexdigest()[:15], 16)
        u = (float(h) + 0.5) / float(SA.HASH_SPACE)
        return int(round(-math.log(u) / w * 1000000.0))

    expect = sorted(
        ((arrival(i, w), i) for i, w in rows if w > 0)
    )[:60]
    assert sorted(got) == sorted((i, a) for a, i in expect)
    assert all(i < 1000 for i, _ in got)
    # heavier strata dominate: weight-100 ids (i%3==2) should outnumber
    # weight-1 ids (i%3==0) decisively among the 60 winners
    heavy = sum(1 for i, _ in got if i % 3 == 2)
    light = sum(1 for i, _ in got if i % 3 == 0)
    assert heavy > 40 and light < 5


def test_weighted_sample_stable_under_repartition(spark):
    df = spark.range(500).select(
        F.col("id"), (F.col("id") % 7 + 1).cast("double").alias("w")
    )
    a = sorted(r["id"] for r in SA.weighted_sample(df, "id", "w", k=40).collect())
    b = sorted(
        r["id"]
        for r in SA.weighted_sample(df.repartition(17), "id", "w", k=40).collect()
    )
    assert a == b


def test_weighted_sample_per_group_k_and_membership(spark):
    df = spark.range(300).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 5 + 1).cast("double").alias("w"),
    )
    out = SA.weighted_sample_per_group(df, "id", "w", "g", k=10)
    rows = out.collect()
    by_g = {}
    for r in rows:
        by_g.setdefault(r["g"], []).append(r["id"])
    assert set(by_g) == {"0", "1", "2"}
    assert all(len(v) == 10 for v in by_g.values())
    # each group's picks are that group's global-k prefix: per-group winners
    # must be a subset of a global draw restricted to the group
    solo = sorted(
        r["id"]
        for r in SA.weighted_sample(
            df.where(F.col("g") == "1"), "id", "w", k=10
        ).collect()
    )
    assert sorted(by_g["1"]) == solo


def test_weighted_sample_plans(spark):
    """Global form must plan TakeOrderedAndProject (partition-local top-k,
    no data-sized shuffle); per-group form exactly one exchange (the window
    hash partition)."""
    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("g"),
        (F.col("id") % 9 + 1).cast("double").alias("w"),
    )
    g = SA.weighted_sample(df, "id", "w", k=16)
    plan = g._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    payload = df.withColumn("body", F.repeat(F.lit("x"), 100))
    per = SA.weighted_sample_per_group(payload, "id", "w", "g", k=4)
    pplan = per._jdf.queryExecution().executedPlan().toString()
    # keys-first is STRUCTURAL: the window (and its exchange) runs on a
    # (key, group, score) projection — the payload column joins back later
    import re

    wnode = next(
        ln for ln in pplan.splitlines() if "Window" in ln and "row_number" in ln
    )
    assert "body" not in wnode
    assert per.columns == ["id", "g", "w", "body", "arrival_micro"]


def test_budget_select_matches_global_window(spark):
    """The distributed prefix-sum must equal the single-reducer global
    window exactly, at several slice counts (slicing must not affect the
    result), and the budget-crossing row is included."""
    from pyspark.sql import Window as W

    df = spark.range(1000).select(
        F.col("id"),
        ((F.col("id") * 37) % 101 + 1).cast("bigint").alias("cost"),
        ((F.col("id") * 13) % 997).cast("bigint").alias("score"),
    )
    gw = (
        W.orderBy(F.desc("score"), F.col("id").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    naive = {
        (r["id"], r["cum"])
        for r in df.withColumn(
            "cum", F.coalesce(F.sum("cost").over(gw), F.lit(0))
        )
        .where(F.col("cum") < 5000)
        .collect()
    }
    for n in (1, 7, 32):
        got = {
            (r["id"], r["cum_before"])
            for r in SA.budget_select(
                df, "id", "cost", "score", budget=5000.0, n_ranges=n
            ).collect()
        }
        assert got == naive, f"n_ranges={n}"
    assert max(c for _, c in naive) < 5000


def test_budget_select_no_global_single_partition_sort(spark):
    """The data-scale window must be partitioned by slice (parallel), the
    slicing itself a range exchange, and the slice frame a checkpoint
    identity barrier so the totals branch and the output branch share ONE
    boundary sampling (two independent range exchanges could disagree)."""
    df = spark.range(2000).select(
        F.col("id"), (F.col("id") % 50 + 1).cast("bigint").alias("c")
    )
    proj = df.select(
        "id", F.col("c").alias("_bs_cost"), F.col("c").alias("_bs_score")
    )
    ranged = SA._budget_ranged(proj, "id", 16)
    rplan = ranged._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in rplan
    payload = df.withColumn("body", F.repeat(F.lit("x"), 100))
    out = SA.budget_select(payload, "id", "c", "c", budget=1000.0, n_ranges=16)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the checkpoint barrier: both branches scan one materialized RDD
    assert "ExistingRDD" in plan or "Scan ExistingRDD" in plan
    # the corpus-scale window runs partitioned by slice; the only
    # unpartitioned window is the n_ranges-row offsets table
    assert "windowspecdefinition(_bs_pid" in plan
    # keys-first is STRUCTURAL: the checkpointed slice frame carries only
    # (key, cost, score, pid) — the caller's payload column must never
    # enter the range shuffle or the barrier
    import re

    for m in re.finditer(r"Scan ExistingRDD[^\n]*", plan):
        assert "body" not in m.group(0), m.group(0)
    assert out.columns == ["id", "c", "body", "cum_before"]


def test_budget_select_duplicate_keys_paths_agree(spark):
    """A repeated key: the slim path (key/cost/score only) and the
    join-back path (extra payload column) keep the same rows with the same
    running totals, one output row per kept input row — the join-back
    used to give k² rows for a key seen k times.  Key 3 has two identical
    (cost, score) rows of which the budget keeps one."""
    rows = [
        (1, "a", 5, 9), (1, "a", 5, 9), (1, "b", 7, 6), (2, "a", 3, 8),
        (3, "b", 4, 4), (3, "b", 4, 4), (3, "a", 2, 1),
    ]
    df = spark.createDataFrame(
        [(*r, f"body{i}") for i, r in enumerate(rows)],
        "id long, g string, c long, s long, body string",
    )

    def run(fn, cols, *args):
        slim = fn(df.select(*cols), "id", "c", "s", *args)
        wide = fn(df, "id", "c", "s", *args)
        got = [
            sorted(tuple(r[c] for c in (*cols, "cum_before")) for r in out.collect())
            for out in (slim, wide)
        ]
        assert got[0] == got[1]
        assert len({r["body"] for r in wide.collect()}) == len(got[1])
        return got[0]

    # global order (score desc, key): cum 0, 5, 10, 13, 20 | 24, 28
    assert run(SA.budget_select, ["id", "c", "s"], 22.0) == [
        (1, 5, 9, 0), (1, 5, 9, 5), (1, 7, 6, 13), (2, 3, 8, 10), (3, 4, 4, 20),
    ]
    # per group: a → cum 0, 5 | 10, 13; b → cum 0, 7 | 11
    assert run(SA.budget_select_per_group, ["id", "g", "c", "s"], "g", 8.0) == [
        (1, "a", 5, 9, 0), (1, "a", 5, 9, 5), (1, "b", 7, 6, 0), (3, "b", 4, 4, 7),
    ]


def test_budget_select_per_group_budgets_each_group(spark):
    df = spark.range(300).select(
        F.col("id"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 9 + 1).cast("bigint").alias("c"),
    )
    out = SA.budget_select_per_group(df, "id", "c", "c", "g", budget=50.0)
    rows = out.collect()
    by_g = {}
    for r in rows:
        by_g.setdefault(r["g"], []).append((r["c"], r["cum_before"]))
    assert set(by_g) == {"0", "1", "2"}
    for g, pairs in by_g.items():
        assert all(cb < 50 for _, cb in pairs)
        # greedy: picks are the largest costs in the group
        picked = sorted((c for c, _ in pairs), reverse=True)
        rest = sorted(
            (r["c"] for r in df.where(F.col("g") == g).collect()),
            reverse=True,
        )
        assert picked == rest[: len(picked)]
    # keys-first: the per-group window's sort must not see payload columns
    payload = df.withColumn("body", F.repeat(F.lit("x"), 50))
    pout = SA.budget_select_per_group(payload, "id", "c", "c", "g", budget=50.0)
    pplan = pout._jdf.queryExecution().executedPlan().toString()
    wnode = next(ln for ln in pplan.splitlines() if "Window" in ln and "sum" in ln)
    assert "body" not in wnode
    assert pout.columns == ["id", "g", "c", "body", "cum_before"]


# ---------------------------------------------------------------------------
# interleave_order (round 8)


def _naive_interleave(rows):
    """Reference: per-group 1-based rank by key, then global sort by
    (rnd, group) — the oracle's single-reducer form."""
    bygroup = {}
    for k, g in sorted(rows):
        bygroup.setdefault(g, []).append(k)
    ranked = [
        (rnd + 1, g, k)
        for g, ks in bygroup.items()
        for rnd, k in enumerate(ks)
    ]
    ranked.sort(key=lambda t: (t[0], t[1]))
    return {k: (rnd, pos) for pos, (rnd, g, k) in enumerate(ranked)}


def test_interleave_order_matches_naive(spark):
    import random

    rng = random.Random(8)
    rows = [(i, rng.choice("abcde")) for i in range(500)]
    # uneven groups: group 'a' triple-weighted
    rows += [(500 + i, "a") for i in range(300)]
    df = spark.createDataFrame(rows, "k long, g string")
    out = {
        r["k"]: (r["rnd"], r["pos"])
        for r in SA.interleave_order(df, "k", "g", n_ranges=7).collect()
    }
    assert out == _naive_interleave(rows)


def test_interleave_order_positions_are_a_permutation(spark):
    df = spark.createDataFrame(
        [(i, ["x", "y", "z"][i % 3]) for i in range(200)], "k long, g string"
    )
    got = SA.interleave_order(df, "k", "g").select("pos").collect()
    assert sorted(r["pos"] for r in got) == list(range(200))


def test_interleave_order_excludes_null_key_and_group(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "b"), (3, "b")], "k long, g string"
    )
    out = SA.interleave_order(df, "k", "g")
    assert sorted(r["k"] for r in out.collect()) == [1, 3]


def test_interleave_order_single_group_is_identity_order(spark):
    df = spark.createDataFrame([(i, "only") for i in range(50)], "k long, g string")
    got = {r["k"]: r["pos"] for r in SA.interleave_order(df, "k", "g").collect()}
    assert got == {i: i for i in range(50)}


def test_interleave_order_max_groups_guard(spark):
    df = spark.createDataFrame([(i, str(i)) for i in range(30)], "k long, g string")
    with pytest.raises(ValueError):
        SA.interleave_order(df, "k", "g", max_groups=10)


def test_interleave_order_stable_under_repartition(spark):
    rows = [(i, ["en", "zh", "fr"][i % 3]) for i in range(120)]
    df = spark.createDataFrame(rows, "k long, g string")
    a = sorted(map(tuple, SA.interleave_order(df, "k", "g", n_ranges=3).collect()))
    b = sorted(
        map(tuple, SA.interleave_order(df.repartition(17), "k", "g", n_ranges=11).collect())
    )
    assert a == b


def test_cluster_split_never_splits_a_near_dup_pair(spark):
    """The leakage guarantee: both endpoints of every LSH candidate pair
    land in the same split (they share a cluster label by construction)."""
    from trough_spark.operators import dedup as D
    from trough_spark.queries import QUERIES, load_all
    from trough_spark.tables import load_table

    load_all()
    sf = "/root/testdata/sf0.001"
    assigned = QUERIES["sample_cluster_split"](spark, sf)
    docs = load_table(spark, sf, "documents")
    sig = D.minhash_signature_vector(docs, "doc_id", "text", num_perm=8, n=3)
    pairs = D.minhash_lsh_candidates_wide(sig, num_perm=8, rows_per_band=2)
    a = assigned.select(F.col("doc_id").alias("id1"), F.col("split").alias("s1"))
    b = assigned.select(F.col("doc_id").alias("id2"), F.col("split").alias("s2"))
    straddlers = pairs.join(a, "id1").join(b, "id2").where(F.col("s1") != F.col("s2"))
    assert pairs.count() > 0
    assert straddlers.count() == 0
    # and it is a real split: more than one label in use
    assert assigned.select("split").distinct().count() >= 2
