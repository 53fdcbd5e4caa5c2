"""Deterministic sampling, dataset splits, and sequence packing.

Training-pipeline plumbing that must be *reproducible across runs, engines,
and cluster sizes* — which rules out `df.sample()` (seeded per-partition
RNG: the result changes whenever partitioning does).  Everything here keys
off `portable_hash(key || ':' || salt)`, a pure map over each row:

- no shuffle, no state, no dependence on row order or partition layout;
- the same row lands in the same split/sample on every engine (the DuckDB
  oracles replay the identical hash arithmetic);
- salts decorrelate independent decisions (a doc's split assignment is
  independent of any sampling decision made with a different salt).

Fractions compare the 60-bit hash against `floor(fraction * 2^60)` in pure
integer arithmetic — no float thresholds anywhere.

Sequence packing (`pack_sequences`) assigns documents to fixed token-budget
bins by a running cumulative sum within each partition key — streaming
first-fit in document order.  A bin may overflow by at most one document
(standard for training-data packing, where the tokenizer later truncates or
bridges); the win is that packing parallelizes perfectly across the
partition key with ONE window shuffle and zero Python.

The reference has no sampling surface (SQLite's ORDER BY random() is
nondeterministic by design); this extends the engine for pipeline use.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from trough_spark.operators.dedup import portable_hash

HASH_SPACE = 1 << 60  # portable_hash range


def _key_hash(key: Column, salt: str) -> Column:
    return portable_hash(F.concat(key.cast("string"), F.lit(":" + salt)))


def hash_threshold(fraction: float) -> int:
    """Integer cutoff: keep rows with hash < floor(fraction * 2^60)."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    return int(fraction * HASH_SPACE)


def hash_sample(
    df: DataFrame, key, fraction: float, salt: str = "sample"
) -> DataFrame:
    """Deterministic Bernoulli(fraction) sample keyed on ``key``: a pure
    map-side filter, stable under any repartitioning."""
    k = F.col(key) if isinstance(key, str) else key
    return df.where(_key_hash(k, salt) < F.lit(hash_threshold(fraction)))


def stratified_sample(
    df: DataFrame,
    key,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    salt: str = "strata",
) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum value gets its own
    keep-fraction (e.g. downsample dominant languages, keep the tail).
    Still a pure map — the per-stratum threshold is a CASE expression."""
    k = F.col(key) if isinstance(key, str) else key
    thr = F.lit(hash_threshold(default_fraction))
    for value, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col) == value, F.lit(hash_threshold(frac))
        ).otherwise(thr)
    return df.where(_key_hash(k, salt) < thr)


def hash_split(
    df: DataFrame,
    key,
    weights: dict[str, float],
    salt: str = "split",
    out: str = "split",
) -> DataFrame:
    """Disjoint deterministic dataset split (train/val/test...): the hash
    space is carved into contiguous ranges proportional to ``weights``
    (which must sum to ~1; the last named split absorbs rounding).  Every
    row gets exactly one label, reproducibly."""
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"weights must sum to 1, got {total}")
    k = F.col(key) if isinstance(key, str) else key
    h = _key_hash(k, salt)
    names = list(weights)
    expr = F.lit(names[-1])
    acc = 0.0
    bounds = []
    for name in names[:-1]:
        acc += weights[name]
        bounds.append((name, hash_threshold(acc)))
    for name, bound in reversed(bounds):
        expr = F.when(h < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn(out, expr)


def split_bounds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """(name, upper_bound) pairs for ``hash_split`` — exported so oracle SQL
    can be generated from the identical integer cutoffs."""
    names = list(weights)
    acc, bounds = 0.0, []
    for name in names[:-1]:
        acc += weights[name]
        bounds.append((name, hash_threshold(acc)))
    return bounds


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    partition_by: str | None = None,
    order_by: str | None = None,
    carry: list[str] | None = None,
) -> DataFrame:
    """Streaming first-fit sequence packing: in ``order_by`` order (default
    ``id_col``) within each ``partition_by`` group, documents fill bins of
    ``budget`` tokens; a document whose preceding cumulative sum has crossed
    a bin boundary starts in the next bin position.

    bin_id = floor(preceding_cumsum / budget); bin_offset = preceding_cumsum
    - bin_id * budget.  A bin can exceed ``budget`` by at most one document
    (bounded overflow — the tokenizer-side bridge/truncate handles it).
    ONE window shuffle on the partition key; pure integer arithmetic.
    ``carry`` columns (e.g. the token-id payload a loader shards out) pass
    through the same window projection — no rejoin, no second shuffle.
    """
    ob = order_by or id_col
    pb = [partition_by] if partition_by else []
    w = W.partitionBy(*pb).orderBy(ob).rowsBetween(W.unboundedPreceding, -1)
    prev = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    return df.select(
        *pb,
        id_col,
        tokens_col,
        F.floor(prev / budget).cast("bigint").alias("bin_id"),
        (prev - F.floor(prev / budget) * budget).cast("bigint").alias("bin_offset"),
        *(carry or []),
    )


def pack_sequences_sharded(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    budget: int,
    n_shards: int,
    partition_by: str | None = None,
    salt: str = "pack",
) -> DataFrame:
    """Hierarchical sequence packing — the skew-proof form of
    ``pack_sequences`` for corpora where one ``partition_by`` value
    dominates (a real corpus is mostly one language, so a per-language
    window makes that language ONE reducer's external sort at 100 TB).

    Each (group, sub-shard) packs independently in id order exactly like
    ``pack_sequences``; sub-shards are a deterministic hash of the id, so
    the window shuffle spreads over ``n_shards × groups`` reducers.  Every
    sub-shard starts a fresh bin — at most one partial bin wasted per
    sub-shard, the standard trade for parallel packing — and global
    ``bin_id``\\ s stay dense per group: a tiny per-sub-shard bin-count
    aggregate is prefix-summed (a window over ``n_shards`` rows per group)
    and joined back as each sub-shard's bin base.

    Plan: ONE data-scale window shuffle on (group, sub_shard), one
    hash aggregate whose output is ``n_shards`` rows per group, one
    broadcast-sized join back.  Size ``n_shards`` to the cluster; bins and
    offsets stay pure integer arithmetic (oracle-replayable).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    pb = [partition_by] if partition_by else []
    k = F.col(id_col)
    sub = F.pmod(_key_hash(k, salt), n_shards).cast("int").alias("sub_shard")
    tagged = df.select(*pb, id_col, tokens_col, sub)
    w = (
        W.partitionBy(*pb, "sub_shard")
        .orderBy(id_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    local = tagged.select(
        *pb,
        id_col,
        tokens_col,
        F.col("sub_shard"),
        F.floor(prev / budget).cast("bigint").alias("local_bin"),
        (prev - F.floor(prev / budget) * budget).cast("bigint").alias("bin_offset"),
    )
    # bins_used has a closed form — the LAST doc's bin + 1, i.e.
    # floor((total - last_doc_tokens)/budget) + 1 — so it comes from a
    # plain hash aggregate (map-side partial) over the base data instead
    # of a second pass through the data-scale window (keeps the heavy
    # per-(group, sub-shard) sort to exactly ONE execution in the plan).
    per_shard = tagged.groupBy(*pb, "sub_shard").agg(
        (
            F.floor((F.sum(tokens_col) - F.max_by(F.col(tokens_col), k)) / budget) + 1
        ).alias("bins_used")
    )
    wb = (
        W.partitionBy(*pb)
        .orderBy("sub_shard")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    bases = per_shard.select(
        *pb,
        "sub_shard",
        F.coalesce(F.sum("bins_used").over(wb), F.lit(0)).alias("bin_base"),
    )
    return local.join(F.broadcast(bases), [*pb, "sub_shard"]).select(
        *pb,
        id_col,
        tokens_col,
        "sub_shard",
        (F.col("bin_base") + F.col("local_bin")).cast("bigint").alias("bin_id"),
        "bin_offset",
    )


def group_cap(
    df: DataFrame,
    key,
    group_col: str,
    cap: int,
    salt: str = "cap",
) -> DataFrame:
    """Per-group frequency cap (web-corpus curation's "at most N documents
    per host/source"): within each ``group_col`` value keep the ``cap``
    rows with the smallest deterministic hash — an unbiased, reproducible
    per-group random sample of fixed size, unlike "first N seen" (which
    depends on scan order).

    ONE window shuffle on the group key; ties in the 60-bit hash are broken
    by the key itself so the kept set is total-order deterministic.  Groups
    at or under the cap pass through untouched.  Skew note: a pathological
    hot group concentrates on one task; for web corpora the per-host row
    count is already bounded by upstream crawl politeness, and AQE's skew
    split handles the residual (the window itself is per-group, so salting
    would change semantics).

    Returns the kept rows plus ``grp_rank`` (1-based position in the
    group's hash order) so callers can audit which rows made the cut.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    k = F.col(key) if isinstance(key, str) else key
    w = W.partitionBy(group_col).orderBy(_key_hash(k, salt).asc(), k.asc())
    return (
        df.withColumn("grp_rank", F.row_number().over(w))
        .where(F.col("grp_rank") <= cap)
    )


def train_order(
    df: DataFrame,
    key,
    n_shards: int,
    salt: str = "epoch0",
    shard_col: str = "shard",
    pos_col: str = "pos",
) -> DataFrame:
    """Deterministic global training-order shuffle: every row gets a
    ``shard`` (salted hash mod ``n_shards``) and a 0-based ``pos`` within
    its shard (ordered by the same hash, key tie-break) — the reproducible
    replacement for ``ORDER BY random()`` epoch shuffling.

    - The same (key, salt) maps to the same (shard, pos) on any engine,
      cluster size, or scan order, so a preempted training job resumes
      exactly (skip ``pos < checkpoint``) and retries are idempotent.
    - A new epoch is a new salt: a full statistically-independent
      reshuffle with zero state carried between epochs.
    - Keys-first STRUCTURALLY: the shard/pos assignment runs on a
      projection of (key, 8-byte hash) only, and the caller's row bodies
      are joined back by ``key`` afterwards — so the data-scale sort
      exchange never carries document payloads regardless of what columns
      the input frame has.  At 100 TB the plan is ``n_shards`` parallel
      external sorts over ~16-byte rows plus one key-equi join to
      reattach bodies.  Size ``n_shards`` to the trainer's data-parallel
      world size (or a multiple); hash uniformity keeps the shards
      balanced.  ``key`` must be row-unique (it is the join-back key; a
      document id) — duplicates would multiply rows at reattach, and rows
      with a NULL key are EXCLUDED from the output (filtered explicitly
      up front; a NULL never matches an equi-join, and several NULL keys
      could not be row-unique anyway).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    if isinstance(key, str):
        key_name, base = key, df
    else:
        key_name, base = "_train_key", df.withColumn("_train_key", key)
    # visible, not silent: the keys-first join-back cannot carry NULL keys
    base = base.where(F.col(key_name).isNotNull())
    order = (
        base.select(key_name)
        .withColumn("_train_h", _key_hash(F.col(key_name), salt))
        .withColumn(shard_col, (F.col("_train_h") % n_shards).cast("int"))
    )
    w = W.partitionBy(shard_col).orderBy(
        F.col("_train_h").asc(), F.col(key_name).asc()
    )
    order = order.withColumn(
        pos_col, (F.row_number().over(w) - 1).cast("bigint")
    ).drop("_train_h")
    if df.columns == [key_name]:
        return order  # nothing to reattach: skip the self-join
    out = base.join(order, on=key_name, how="inner")
    return out.select(*df.columns, shard_col, pos_col)


def mix_rebalance(
    df: DataFrame,
    key,
    strata_col: str,
    target_weights: dict[str, float],
    salt: str = "mix",
) -> DataFrame:
    """Corpus mixture rebalancing (DoReMi-style static mixing): downsample
    each stratum so the output approaches ``target_weights`` proportions,
    keeping as many rows as the scarcest stratum allows.

    The budget is ``min_s(n_s / w_s)`` — the largest output size at which no
    stratum is oversubscribed; each stratum then keeps ``budget * w_s``
    rows in expectation via a deterministic per-key hash filter.  Rows whose
    stratum has no target weight are dropped.

    Everything is in-plan: the per-stratum counts are one tiny aggregate,
    the (weights, rates) tables are broadcast, and the keep decision is a
    pure map over the fact rows — no driver collect, stable under any
    repartitioning.  Returns the kept rows plus ``rate_ppm`` (the stratum's
    acceptance rate in parts-per-million)."""
    k = F.col(key) if isinstance(key, str) else key
    spark = df.sparkSession
    w = spark.createDataFrame(
        [(s, float(v)) for s, v in sorted(target_weights.items())],
        f"{strata_col} string, w double",
    )
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_avail"))
    cw = counts.join(F.broadcast(w), strata_col)
    budget = cw.agg(F.min(F.col("n_avail") / F.col("w")).alias("budget"))
    rates = cw.crossJoin(F.broadcast(budget)).select(
        strata_col,
        "n_avail",
        F.least(
            F.lit(1000000).cast("bigint"),
            F.round(
                F.col("budget") * F.col("w") / F.col("n_avail") * F.lit(1000000.0)
            ).cast("bigint"),
        ).alias("rate_ppm"),
    )
    return df.join(F.broadcast(rates.drop("n_avail")), strata_col).where(
        _key_hash(k, salt) % F.lit(1000000) < F.col("rate_ppm")
    )


def temperature_sample(
    df: DataFrame,
    key,
    strata_col: str,
    alpha: float = 0.5,
    salt: str = "temp",
) -> DataFrame:
    """Temperature-scaled stratum sampling (the multilingual-corpus
    standard: sample language s proportionally to ``n_s ** alpha``,
    flattening the head without starving the tail; alpha=1 keeps natural
    proportions, alpha→0 approaches uniform).

    Acceptance rate per stratum is ``(n_min / n_s) ** (1 - alpha)`` — 1 for
    the scarcest stratum (nothing is wasted) and, in expectation, kept
    counts proportional to ``n_s ** alpha``.  Rates derive in-plan from one
    tiny per-stratum count aggregate broadcast back over the fact rows; the
    keep decision is the usual deterministic per-key hash filter, stable
    under any partitioning.  For alpha=0.5 the rate is ``sqrt(n_min/n_s)``
    — computed with sqrt, which IEEE 754 requires to be correctly rounded,
    so the ppm-quantized rates are bit-identical across engines (pow
    carries no such guarantee; the oracle path pins alpha=0.5).

    Returns kept rows plus ``rate_ppm``.  Scale: no data-sized shuffle at
    all — counts partial-aggregate map-side, everything else is a map."""
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0,1], got {alpha}")
    k = F.col(key) if isinstance(key, str) else key
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_avail"))
    n_min = counts.agg(F.min("n_avail").alias("n_min"))
    ratio = F.col("n_min").cast("double") / F.col("n_avail")
    scaled = (
        F.sqrt(ratio)
        if alpha == 0.5
        else F.pow(ratio, F.lit(1.0 - alpha))
    )
    rates = counts.crossJoin(F.broadcast(n_min)).select(
        strata_col,
        F.col("n_avail").cast("bigint").alias("n_avail"),
        F.least(
            F.lit(1000000).cast("bigint"),
            F.round(scaled * F.lit(1000000.0)).cast("bigint"),
        ).alias("rate_ppm"),
    )
    return df.join(F.broadcast(rates.drop("n_avail")), strata_col).where(
        _key_hash(k, salt) % F.lit(1000000) < F.col("rate_ppm")
    )


def dsir_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target,
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    how much its hashed n-gram profile looks like a TARGET distribution
    versus the raw corpus — the standard cheap way to upsample "looks like
    Wikipedia/en/books" data without a trained classifier.

    ``target`` is a boolean Column over ``df`` rows defining the in-plan
    target subset (e.g. ``F.col("lang") == "en"``).  Features are unigrams
    + bigrams hashed into ``n_buckets`` buckets (portable md5 hash, so the
    DuckDB oracle replays it exactly); per-bucket weight is the add-one
    smoothed log10 likelihood ratio ``log10(p_target(b) / p_raw(b))``,
    quantized to integer micros so the per-doc aggregation is an exact
    BIGINT sum (same order-proof trick as unigram_logprob); the document
    score is the tf-weighted mean log-ratio.  Resample by keeping top
    scores or hash-thresholding on the score.

    Returns (id, n_feats, dsir_score).  Scale: the exploded feature table
    partial-aggregates into (id, bucket) counts — the only data-sized
    shuffle carries (id, int bucket, count); the bucket stats table is
    ``n_buckets`` rows, broadcast back.  No Python, no cartesian."""
    from trough_spark.operators.dedup import portable_hash, tokens

    toks = df.select(
        F.col(id_col).alias("id"),
        target.cast("int").alias("is_t"),
        tokens(F.col(text_col)).alias("toks"),
    )
    grams = toks.select(
        "id",
        "is_t",
        F.explode(
            F.concat(
                F.col("toks"),
                F.expr(
                    "if(size(toks) < 2, array(), "
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> concat_ws(' ', slice(toks, i, 2))))"
                ),
            )
        ).alias("g"),
    ).where(F.col("g") != "")
    feats = grams.select(
        "id", "is_t", F.pmod(portable_hash(F.col("g")), F.lit(n_buckets)).alias("b")
    )
    tf = feats.groupBy("id", "is_t", "b").agg(F.count(F.lit(1)).alias("tf"))
    stats = tf.groupBy("b").agg(
        F.sum(F.when(F.col("is_t") == 1, F.col("tf")).otherwise(F.lit(0))).alias(
            "t_cnt"
        ),
        F.sum("tf").alias("r_cnt"),
    )
    tot = stats.agg(
        F.sum("t_cnt").alias("tot_t"), F.sum("r_cnt").alias("tot_r")
    )
    q = stats.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            F.log10(
                ((F.col("t_cnt") + 1).cast("double") / (F.col("tot_t") + n_buckets))
                / ((F.col("r_cnt") + 1).cast("double") / (F.col("tot_r") + n_buckets))
            )
            * 1000000,
            0,
        )
        .cast("bigint")
        .alias("qlr"),
    )
    return (
        tf.join(F.broadcast(q), "b")
        .groupBy("id")
        .agg(
            F.sum("tf").alias("n_feats"),
            F.sum(F.col("tf") * F.col("qlr")).alias("_s"),
        )
        .select(
            "id",
            "n_feats",
            # + 0.0 canonicalizes IEEE negative zero (a tiny negative mean
            # rounds to -0.0 in one engine, +0.0 in another)
            (
                F.round(
                    F.col("_s").cast("double") / F.col("n_feats") / 1000000.0, 4
                )
                + F.lit(0.0)
            ).alias("dsir_score"),
        )
    )


def weighted_sample(
    df: DataFrame,
    key,
    weight,
    k: int,
    salt: str = "wsample",
    score_col: str = "arrival_micro",
) -> DataFrame:
    """Efraimidis-Spirakis (algorithm A-ES) weighted sampling WITHOUT
    replacement: keep the ``k`` rows with the smallest exponential
    "arrival time" ``-ln(u) / w`` (equivalently the largest
    ``u ** (1/w)``), where ``u`` is the deterministic per-key uniform
    derived from the portable hash.  Inclusion is proportional-to-weight
    with no replacement, and — unlike ``df.sample()`` — the same (key,
    salt) draws the same arrival on any engine, cluster layout, or scan
    order, so the sample is reproducible and resumable.

    The classic use: draw a token-budgeted training subset where long /
    high-quality documents should be proportionally more likely, without
    the duplicates that with-replacement sampling introduces.

    Cross-engine exactness: ``u`` is bit-identical by construction (the
    hash is an integer; ``+ 0.5`` then division by the exact power of two
    ``2**60`` are exact IEEE-754 ops), and the only transcendental, ln, is
    quantized to integer micros with the key as final tie-break — the same
    order-proof trick as ``unigram_logprob`` — so a 1-ulp libm difference
    cannot reorder the boundary.

    Scale: Spark executes orderBy+limit as ``TakeOrderedAndProject`` —
    every partition keeps a local top-k heap and the driver merges the
    ``partitions x k`` survivors.  No global sort, no data-sized shuffle;
    the cost at 100 TB is one scan plus a k-row merge.  Rows with
    non-positive or null weight are excluded (zero weight = never chosen,
    and ``-ln(u)/0`` would be ill-defined).  Rows with a NULL key are
    excluded too (explicitly — a NULL hash would otherwise yield a NULL
    arrival, which Spark's ascending sort places FIRST, silently hogging
    the top-k).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    kc = F.col(key) if isinstance(key, str) else key
    df = df.where(kc.isNotNull())
    wc = (F.col(weight) if isinstance(weight, str) else weight).cast("double")
    u = (_key_hash(kc, salt).cast("double") + F.lit(0.5)) / F.lit(
        float(HASH_SPACE)
    )
    arrival = F.round((-F.log(u) / wc) * F.lit(1000000.0)).cast("bigint")
    return (
        df.where(wc > F.lit(0.0))
        .withColumn(score_col, arrival)
        .orderBy(F.col(score_col).asc(), kc.asc())
        .limit(k)
    )


def weighted_sample_per_group(
    df: DataFrame,
    key,
    weight,
    group_col: str,
    k: int,
    salt: str = "wsample",
    score_col: str = "arrival_micro",
) -> DataFrame:
    """Per-stratum Efraimidis-Spirakis sample: the ``k`` smallest
    arrival-time rows WITHIN each ``group_col`` value — e.g. "64
    length-weighted documents per language", the building block for
    weighted mixture construction where every stratum must be represented.

    Same determinism and quantization contract as ``weighted_sample``.
    Keys-first STRUCTURALLY (the ``train_order`` pattern): the window runs
    on a (key, group, score) projection — the exchange carries ~24
    bytes/row regardless of the caller's columns — and row bodies join
    back by ``key`` afterwards (the kept side is only k rows per group).
    A skewed dominant group still sorts its keys on one reducer; cap
    upstream with ``group_cap`` if a single stratum is shuffle-sized.
    NULL keys are excluded (filtered explicitly — they can neither win a
    deterministic arrival nor survive the equi-join back)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if isinstance(key, str):
        key_name, base = key, df
    else:
        key_name, base = "_es_key", df.withColumn("_es_key", key)
    base = base.where(F.col(key_name).isNotNull())
    wc = (F.col(weight) if isinstance(weight, str) else weight).cast("double")
    u = (
        _key_hash(F.col(key_name), salt).cast("double") + F.lit(0.5)
    ) / F.lit(float(HASH_SPACE))
    arrival = F.round((-F.log(u) / wc) * F.lit(1000000.0)).cast("bigint")
    proj = (
        base.where(wc > F.lit(0.0))
        .select(key_name, group_col, arrival.alias(score_col))
    )
    w = W.partitionBy(group_col).orderBy(
        F.col(score_col).asc(), F.col(key_name).asc()
    )
    kept = (
        proj.withColumn("_es_rn", F.row_number().over(w))
        .where(F.col("_es_rn") <= F.lit(k))
        .select(key_name, score_col)
    )
    out = base.join(kept, on=key_name, how="inner")
    return out.select(*df.columns, score_col)


def _budget_ranged(proj: DataFrame, key_name: str, n_ranges: int) -> DataFrame:
    """Order-respecting slicing for the distributed prefix-sum: range
    repartition the (key, _bs_cost, _bs_score) projection by
    (score DESC, key ASC); slice id = physical partition."""
    return proj.repartitionByRange(
        n_ranges, F.desc("_bs_score"), F.col(key_name).asc()
    ).withColumn("_bs_pid", F.spark_partition_id())


def budget_select(
    df: DataFrame,
    key,
    cost,
    score,
    budget: float,
    n_ranges: int = 32,
    cum_col: str = "cum_before",
) -> DataFrame:
    """Budget-constrained greedy selection: walk rows in DESCENDING
    ``score`` order (key ascending as tie-break) and keep each row while
    the running ``cost`` total BEFORE it is still under ``budget`` — the
    resampling stage of importance-weighted data selection ("take the
    best documents until the token budget is spent").  The first row is
    always kept when the budget is positive, and the row that crosses the
    budget line is included (its predecessor total was under budget), so
    the kept set is a deterministic prefix of the score ordering.

    Scale: the naive form — ``SUM(cost) OVER (ORDER BY score DESC)`` —
    plans a GLOBAL window: one reducer sorts the entire corpus.  This
    implementation is a distributed prefix-sum instead:

    1. range-repartition by (score DESC, key ASC) into ``n_ranges``
       ordered slices (boundary sampling may vary run to run, but any
       order-respecting slicing yields the identical running sums, so the
       result is deterministic even though the slicing is not);
    2. per-slice cost totals (``n_ranges`` rows) get exclusive prefix
       offsets via a window over the tiny totals table;
    3. each slice computes its internal running sum in parallel and adds
       its slice offset — an exact global prefix-sum with every sort
       bounded to corpus/n_ranges.

    Ties across the whole frame are totally ordered by (score, key) when
    ``key`` is unique.  Rows sharing a key and a score take an arbitrary
    order among themselves; each input row still yields at most one
    output row, on both the slim and the join-back path.  Costs
    are summed as the column's own type — pass an integer cost column
    (token counts) for an exact BIGINT prefix-sum (the
    float-associativity trap never arises).

    Keys-first STRUCTURALLY (the ``train_order`` pattern): the prefix-sum
    runs on a projection of (key, cost, score) only — ~24 bytes/row — and
    the caller's row bodies are joined back by ``key`` afterwards, so
    neither the range shuffle nor the checkpoint barrier ever carries
    document payloads regardless of what columns the input frame has.

    Returns the kept rows plus ``cum_before`` (the exact running total
    before each kept row) for audit.  NULL keys are excluded (filtered
    explicitly — a NULL key has no total order position and cannot
    survive the equi-join back).
    """
    if isinstance(key, str):
        key_name, base = key, df
    else:
        key_name, base = "_bs_key", df.withColumn("_bs_key", key)
    base = base.where(F.col(key_name).isNotNull())
    costc = F.col(cost) if isinstance(cost, str) else cost
    scorec = F.col(score) if isinstance(score, str) else score
    proj = base.select(
        key_name, costc.alias("_bs_cost"), scorec.alias("_bs_score")
    )
    # localCheckpoint is a CORRECTNESS barrier, not an optimization: the
    # slice totals and the output both consume the ranged frame, and as two
    # separate plan subtrees each would plan its OWN range exchange whose
    # boundary sampling is seeded per-RDD — two samplings can disagree,
    # desynchronizing offsets from pids.  The (lazy) checkpoint pins both
    # branches to ONE RDD, hence one shuffle dependency and one boundary
    # set; it also truncates lineage like the iterative plans in graph.py.
    ranged = _budget_ranged(proj, key_name, n_ranges).localCheckpoint(
        eager=False
    )
    totals = ranged.groupBy("_bs_pid").agg(F.sum("_bs_cost").alias("_bs_tot"))
    off_w = (
        W.orderBy(F.col("_bs_pid").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_bs_pid",
        F.coalesce(F.sum("_bs_tot").over(off_w), F.lit(0)).alias("_bs_off"),
    )
    in_w = (
        W.partitionBy("_bs_pid")
        .orderBy(F.desc("_bs_score"), F.col(key_name).asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    summed = ranged.join(F.broadcast(offsets), "_bs_pid").withColumn(
        cum_col,
        F.col("_bs_off") + F.coalesce(F.sum("_bs_cost").over(in_w), F.lit(0)),
    )
    kept_full = summed.where(F.col(cum_col) < F.lit(budget))
    if df.columns == [key_name]:
        return kept_full.select(key_name, cum_col)  # nothing to reattach
    if (
        isinstance(cost, str)
        and isinstance(score, str)
        and set(df.columns) == {key_name, cost, score}
    ):
        # Slim input (key/cost/score only, the common pipeline shape):
        # every output column is already IN the checkpointed ranged frame,
        # so reconstruct from it instead of joining ``base`` back —
        # which re-planned the caller's whole upstream (measured on
        # pipeline_dsir_budget: the full DSIR scoring pipeline executed
        # TWICE, once for the prefix-sum and once for the join-back;
        # optimization round 11, guide §2.4 "remove shuffles outright").
        colmap = {key_name: key_name, cost: "_bs_cost", score: "_bs_score"}
        return kept_full.select(
            *[F.col(colmap[c]).alias(c) for c in df.columns], cum_col
        )
    return _budget_join_back(
        base, summed, key_name, [], costc, scorec, cum_col, budget, df.columns
    )


def _budget_join_back(
    base, summed, key_name, lead, costc, scorec, cum_col, budget, out_cols
) -> DataFrame:
    """Reattach the caller's columns to the kept rows by ``key_name``.  A
    key may repeat: its rows are numbered in (``lead``, cost, score) order
    on both sides and paired by number, so each input row yields at most
    one output row carrying its own running total, as the slim path gives
    (joining on the key alone would give k² rows for a key seen k times).
    Rows alike in those columns are interchangeable; among them the
    numbering follows the running total.  The window partitions by the
    join key, so the join reuses its exchange."""
    order = [F.col(c) for c in lead]
    w = W.partitionBy(key_name)
    kept = (
        summed.withColumn(
            "_bs_krn",
            F.row_number().over(
                w.orderBy(*order, "_bs_cost", "_bs_score", cum_col)
            ),
        )
        .where(F.col(cum_col) < F.lit(budget))
        .select(key_name, "_bs_krn", cum_col)
    )
    body = base.withColumn(
        "_bs_rn", F.row_number().over(w.orderBy(*order, costc, scorec))
    )
    out = body.join(kept, on=key_name).where(F.col("_bs_rn") == F.col("_bs_krn"))
    return out.select(*out_cols, cum_col)


def budget_select_per_group(
    df: DataFrame,
    key,
    cost,
    score,
    group_col: str,
    budget: float,
    cum_col: str = "cum_before",
) -> DataFrame:
    """Per-stratum budget selection: within each ``group_col`` value keep
    rows in descending ``score`` order while the group's running cost
    stays under ``budget`` — "x tokens per language" mixture targets.
    One hash exchange on the group key over a keys-first (key, group,
    cost, score) projection (bodies join back by ``key``); each group's
    sort is bounded by the group size (cap a dominant group upstream with
    ``group_cap`` if a single stratum is itself shuffle-sized).  NULL keys
    are excluded, as in ``budget_select``."""
    if isinstance(key, str):
        key_name, base = key, df
    else:
        key_name, base = "_bs_key", df.withColumn("_bs_key", key)
    base = base.where(F.col(key_name).isNotNull())
    costc = F.col(cost) if isinstance(cost, str) else cost
    scorec = F.col(score) if isinstance(score, str) else score
    proj = base.select(
        key_name,
        group_col,
        costc.alias("_bs_cost"),
        scorec.alias("_bs_score"),
    )
    w = (
        W.partitionBy(group_col)
        .orderBy(F.desc("_bs_score"), F.col(key_name).asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    summed = proj.withColumn(
        cum_col, F.coalesce(F.sum("_bs_cost").over(w), F.lit(0))
    )
    kept_full = summed.where(F.col(cum_col) < F.lit(budget))
    if (
        isinstance(cost, str)
        and isinstance(score, str)
        and set(df.columns) == {key_name, group_col, cost, score}
    ):
        # slim input: reconstruct from the windowed projection instead of
        # re-planning the caller's upstream for the join-back (same move
        # as budget_select; optimization round 11)
        colmap = {
            key_name: key_name,
            group_col: group_col,
            cost: "_bs_cost",
            score: "_bs_score",
        }
        return kept_full.select(
            *[F.col(colmap[c]).alias(c) for c in df.columns], cum_col
        )
    return _budget_join_back(
        base, summed, key_name, [group_col], costc, scorec, cum_col, budget,
        df.columns,
    )


def interleave_order(
    df: DataFrame,
    key,
    group_col: str,
    rnd_col: str = "rnd",
    pos_col: str = "pos",
    n_ranges: int = 32,
    max_groups: int = 4096,
) -> DataFrame:
    """Round-robin interleave across groups — the balanced training-order
    mix for multilingual / multi-source corpora ("one document from each
    language per round, until a group runs dry").  Every row gets its
    1-based round ``rnd`` (its rank within its group, key ascending) and
    its 0-based global position ``pos`` in the interleaved order, which is
    exactly ``ROW_NUMBER() OVER (ORDER BY rnd, group)`` — except nothing
    here ever performs that global single-reducer sort:

    1. **Distributed per-group enumeration** (the ``budget_select``
       prefix-sum shape): range-repartition the (key, group) projection by
       (group ASC, key ASC) into ``n_ranges`` ordered slices; per-(slice,
       group) counts (a tiny totals table) get exclusive prefix offsets
       via a window over that table; each slice then computes row_number
       in parallel and adds its offset.  No one-task-per-group sort, so a
       group holding half the corpus still enumerates across slices.
    2. **Arithmetic position**: with the per-group histogram ``c_g``
       (collected — one row per group, hence ``max_groups``) the global
       position is computed per row with zero further shuffles::

           pos(g, r) = sum_g' min(c_g', r-1)            -- full earlier rounds
                     + #{g' < g : c_g' >= r}            -- same round, alive
                                                        -- groups before g

    The localCheckpoint is the same correctness barrier documented at
    ``budget_select``: totals and output both consume the ranged frame,
    and pinning them to one RDD guarantees one boundary sampling.

    Keys-first structurally: the enumeration runs on (key, group) only and
    row bodies are joined back by ``key`` (which must therefore be
    row-unique).  Rows with a NULL key or NULL group are EXCLUDED
    (filtered explicitly — NULLs have no interleave position and cannot
    survive the equi-join back).  Groups must be low-cardinality
    (languages, sources); ``max_groups`` guards the driver-side histogram.

    Extension operator per SURVEY §2.D (the reference has no sampling
    surface).
    """
    if isinstance(key, str):
        key_name, base = key, df
    else:
        key_name, base = "_il_key", df.withColumn("_il_key", key)
    base = base.where(
        F.col(key_name).isNotNull() & F.col(group_col).isNotNull()
    )
    proj = base.select(key_name, F.col(group_col).alias("_il_g"))
    ranged = (
        proj.repartitionByRange(
            n_ranges, F.col("_il_g").asc(), F.col(key_name).asc()
        )
        .withColumn("_il_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    totals = ranged.groupBy("_il_pid", "_il_g").agg(
        F.count(F.lit(1)).alias("_il_n")
    )
    off_w = (
        W.partitionBy("_il_g")
        .orderBy(F.col("_il_pid").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "_il_pid",
        "_il_g",
        F.coalesce(F.sum("_il_n").over(off_w), F.lit(0)).alias("_il_off"),
    )
    hist = {
        r["_il_g"]: r["_il_c"]
        for r in totals.groupBy("_il_g")
        .agg(F.sum("_il_n").alias("_il_c"))
        .collect()
    }
    if len(hist) > max_groups:
        raise ValueError(
            f"interleave_order: {len(hist)} groups exceeds max_groups="
            f"{max_groups}; round-robin interleave is for low-cardinality "
            "groups (languages/sources)"
        )
    in_w = W.partitionBy("_il_pid", "_il_g").orderBy(F.col(key_name).asc())
    rnd = (F.col("_il_off") + F.row_number().over(in_w)).cast("bigint")
    order = (
        ranged.join(F.broadcast(offsets), ["_il_pid", "_il_g"])
        .withColumn(rnd_col, rnd)
        .drop("_il_pid", "_il_off")
    )
    r = F.col(rnd_col)
    pos = F.lit(0).cast("bigint")
    for g, c in sorted(hist.items()):
        pos = pos + F.least(F.lit(c).cast("bigint"), r - 1)
        pos = pos + F.when(
            (F.lit(g) < F.col("_il_g")) & (r <= F.lit(c)), 1
        ).otherwise(0)
    order = order.withColumn(pos_col, pos.cast("bigint")).drop("_il_g")
    if df.columns == [key_name]:
        return order
    out = base.join(order, on=key_name, how="inner")
    return out.select(*df.columns, rnd_col, pos_col)


def repeat_upsample(
    df: DataFrame,
    key,
    weight: Column,
    salt: str = "repeat",
    order_salt: str = "repeat_order",
) -> DataFrame:
    """Materialize a repeat-upsampled training list: each row appears
    floor(weight) or ceil(weight) times, the fractional part resolved by a
    deterministic per-key hash coin (P[extra] = frac(weight)) — the
    "repeat epochs" step that turns mixture weights > 1 into an actual
    training sequence (multi-epoch upsampling of high-quality sources,
    standard since Llama/Gopher data recipes; contrast `mix_rebalance`,
    which only RESIZES groups downward/upward by sampling, and
    `temperature_sample`, which computes the weights).

    Returns one row per materialized instance: every ``df`` column plus
    (n_epochs, epoch, order_key) — order_key is a per-instance hash usable
    as a global shuffle position (epoch copies of one doc land far apart,
    the property curriculum schedules want).

    Exactness: the coin is portable (md5-derived), so the oracle
    reproduces instance counts bit-for-bit; expected total per group is
    sum(weight) with per-key deviation only from the hash coin.

    Scale: ENTIRELY map-side — no shuffle, no window, no driver state.
    floor/frac/coin/explode(sequence) are per-row expressions; the output
    is corpus_size x mean(weight) rows whose ordering column is consumed
    by whatever writes or sorts downstream (train_order / a sorted write).
    Weights below 1 degrade to hash_sample (0 or 1 copies, P = weight).
    """
    key_col = F.col(key) if isinstance(key, str) else key
    base = df.withColumn("_ru_w", weight.cast("double"))
    lo = F.floor(F.col("_ru_w")).cast("bigint")
    frac = F.col("_ru_w") - lo
    coin = _key_hash(key_col, salt) < (frac * HASH_SPACE).cast("bigint")
    n_epochs = (lo + F.when(coin, 1).otherwise(0)).alias("n_epochs")
    with_n = base.withColumn("n_epochs", n_epochs).drop("_ru_w")
    exploded = with_n.filter(F.col("n_epochs") > 0).withColumn(
        "epoch", F.explode(F.expr("sequence(1, n_epochs)"))
    )
    return exploded.withColumn(
        "order_key",
        _key_hash(
            F.concat(key_col.cast("string"), F.lit("#"), F.col("epoch").cast("string")),
            order_salt,
        ),
    )


def length_bucket_batches(
    df: DataFrame,
    key,
    len_col: str,
    batch_size: int = 16,
    salt: str = "lenbucket",
    n_ranges: int = 32,
) -> DataFrame:
    """Length-bucketed "smart batching": band rows by length into
    geometric (power-of-two) buckets, order each bucket by a
    deterministic per-key hash (scan-order-independent), cut fixed-size
    batches, and report each batch's PADDING WASTE — the tokens a
    max-length-padded batch burns versus its content (the metric dynamic
    batching exists to minimize; `pack_sequences` is the other strategy,
    concatenation into fixed budgets).

    Returns one row per batch: (bucket, batch_id, n_docs, max_len,
    sum_len, waste) with waste = max_len * n_docs - sum_len.

    Exactness: the bucket is integer bit-length arithmetic
    (length(bin(n)) - 1 == floor(log2 n) with no float log), and the
    in-bucket order key is the portable hash left-padded to fixed width
    so string order equals numeric order — both reproducible in the
    DuckDB oracle.

    Scale: the per-bucket rank reuses `interleave_order`'s distributed
    enumeration (range slices + per-slice offsets — NO one-task-per-bucket
    window even though buckets are few and huge); the batch rollup is one
    partial-aggregable groupBy on (bucket, batch_id).  Shuffled rows carry
    (order-key string, bucket, length) — never document bodies.
    """
    key_col = F.col(key) if isinstance(key, str) else key
    base = df.select(
        key_col.cast("string").alias("_lb_id"),
        F.col(len_col).cast("bigint").alias("_lb_len"),
    ).where(F.col("_lb_len") >= 1)
    bucket = (F.length(F.bin(F.col("_lb_len"))) - 1).cast("int")
    ck = F.concat(
        F.lpad(_key_hash(F.col("_lb_id"), salt).cast("string"), 19, "0"),
        F.lit(":"),
        F.col("_lb_id"),
    )
    keyed = base.select(
        ck.alias("_lb_ck"), bucket.alias("bucket"), F.col("_lb_len")
    )
    ranked = interleave_order(
        keyed, "_lb_ck", "bucket", rnd_col="_lb_rnd", n_ranges=n_ranges
    )
    return (
        ranked.withColumn(
            "batch_id",
            F.expr(f"CAST((_lb_rnd - 1) DIV {int(batch_size)} AS BIGINT)"),
        )
        .groupBy("bucket", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("_lb_len").alias("max_len"),
            F.sum("_lb_len").alias("sum_len"),
        )
        .withColumn(
            "waste", F.col("max_len") * F.col("n_docs") - F.col("sum_len")
        )
    )
