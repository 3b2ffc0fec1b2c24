"""Deterministic sampling for training-data pipelines.

``df.sample``/``sampleBy`` draw from a partition-seeded RNG, so results
change with cluster layout — unacceptable for reproducible corpus builds.
These operators sample by a stable hash of a key column instead: the same
row is always in or out, on any partitioning, any engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from azure_medicine_data_engineering_spark.sources.readers import from_rows


def _bucket(key: Column, buckets: int = 10_000) -> Column:
    """Stable bucket in [0, buckets): md5-derived, engine-reproducible
    (same construction as the dedup hashes)."""
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("long")
    return h % buckets


def _threshold(fraction: float, buckets: int) -> int:
    # round, not truncate: 0.29 * 10000 is 2899.9999... on IEEE doubles and
    # int() would bias the keep-fraction low by a whole bucket
    return int(round(fraction * buckets))


def hash_sample(df: DataFrame, key: str, fraction: float, buckets: int = 10_000) -> DataFrame:
    """Keep rows whose key-bucket falls below ``fraction`` of the bucket
    space. Deterministic; sampling error O(1/buckets)."""
    return df.where(_bucket(F.col(key), buckets) < _threshold(fraction, buckets))


def stratified_hash_sample(
    df: DataFrame, key: str, strata_col: str, fractions: dict[str, float],
    default_fraction: float = 0.0, buckets: int = 10_000,
) -> DataFrame:
    """Per-stratum deterministic sampling (``sampleBy`` without the RNG):
    each stratum value gets its own keep-fraction."""
    threshold = F.lit(_threshold(default_fraction, buckets))
    for value, frac in fractions.items():
        threshold = F.when(
            F.col(strata_col) == value, F.lit(_threshold(frac, buckets))
        ).otherwise(threshold)
    return df.where(_bucket(F.col(key), buckets) < threshold)


def weighted_sample_keys(
    df: DataFrame,
    key: str,
    weight: Column,
    k: int,
    round_digits: int = 8,
) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling without replacement: each row
    draws a deterministic uniform u from md5(key) and scores
    -ln(u) / weight; the k SMALLEST scores are the sample, and inclusion
    probability is proportional to weight.

    Deterministic and engine-reproducible: u = (h48 + 1) / (2^48 + 1) from
    the first 12 md5 hex digits (never 0 or 1), the score is rounded
    before ranking (a last-ulp ln() difference must not reorder
    near-ties), and the key breaks exact ties. Top-k goes through
    orderBy+limit → TakeOrderedAndProject: per-partition heaps, no global
    sort — one corpus pass at any scale."""
    h48 = F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 12), 16, 10).cast(
        "double"
    )
    u = (h48 + 1.0) / float((1 << 48) + 1)
    score = F.round(-F.log(u) / weight, round_digits)
    return (
        df.withColumn("es_score", score)
        .orderBy("es_score", key)
        .limit(k)
    )


def quota_sample(
    df: DataFrame,
    key: str,
    strata_col: str,
    targets: dict[str, float],
    buckets: int = 10_000,
    strict: bool = True,
) -> DataFrame:
    """Mixture balancing: deterministically downsample each stratum so the
    surviving corpus matches the target proportions — the domain-mixing
    step of a training-data pipeline (e.g. 40% web / 30% books / 30% code).

    The largest feasible corpus preserving the mixture is
    ``T = min_s(count_s / target_s)``; stratum s keeps
    ``min(1, target_s * T / count_s)`` of its rows via the same stable
    md5-bucket rule as :func:`hash_sample` (reproducible on any
    partitioning or engine). Strata absent from ``targets`` are dropped.

    Cost: one tiny per-stratum count aggregation plus one filtered scan;
    the per-stratum thresholds are broadcast, so the big side never
    shuffles. The threshold is ``floor(frac * buckets + 0.5)``
    (half-away-from-zero, CLAUDE.md convention) computed from identical
    IEEE expressions on both engines.

    ``strict`` governs the INFEASIBLE mixture (a target stratum with zero
    surviving rows → T = 0): True (default) fails loudly instead of
    silently skewing the mix; False returns the only mixture-preserving
    corpus — the EMPTY one (composed pipelines like the e2e funnel report
    the empty final stage instead of aborting the whole report)."""
    from pyspark.sql import functions as F

    if not targets:
        raise ValueError("quota_sample: targets must be non-empty")
    bad = {s: v for s, v in targets.items() if not float(v) > 0.0}
    if bad:
        raise ValueError(f"quota_sample: targets must be > 0, got {bad}")

    spark = df.sparkSession
    tgt = from_rows(
        spark,
        [(k, float(v)) for k, v in targets.items()],
        f"{strata_col} string, _target double",
    )
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_cnt"))
    joined = counts.join(F.broadcast(tgt), strata_col).persist()  # 2 consumers
    # a target stratum with zero rows makes the requested mixture
    # infeasible (T = 0); fail loudly instead of silently skewing the mix
    present = {r[0] for r in joined.select(strata_col).collect()}
    absent = sorted(set(targets) - present)
    if absent and strict:
        raise ValueError(
            f"quota_sample: target strata absent from input: {absent}"
        )
    if absent:  # strict=False: infeasible -> T = 0 -> empty sample
        feasible = joined.agg(F.lit(0.0).alias("_T"))
    else:
        feasible = joined.agg(F.min(F.col("_cnt") / F.col("_target")).alias("_T"))
    thresholds = joined.crossJoin(F.broadcast(feasible)).select(
        strata_col,
        F.floor(
            F.least(F.lit(1.0), F.col("_target") * F.col("_T") / F.col("_cnt"))
            * buckets
            + F.lit(0.5)
        ).alias("_thr"),
    )
    out = (
        df.join(F.broadcast(thresholds), strata_col)
        .where(_bucket(F.col(key), buckets) < F.col("_thr"))
        .drop("_thr")
    )
    out._stage_caches = [joined]  # caller-owned lifecycle, repo convention
    return out


def temperature_upsample(
    df: DataFrame,
    key: str,
    strata_col: str,
    alpha: float = 0.5,
    buckets: int = 10_000,
    cache: bool = True,
) -> DataFrame:
    """Temperature-based mixture rebalancing WITH replacement — the
    upsampling counterpart of :func:`quota_sample` (multilingual pre-training
    convention, XLM-R/mT5: sample stratum s with probability
    ``p_s ∝ n_s^alpha``, ``alpha < 1`` flattens the distribution so
    low-resource strata repeat and high-resource strata thin).

    Deterministic materialization at unchanged corpus size N: stratum s gets
    rate ``r_s = p_s · N / n_s`` (rounded to 6 decimals so both engines
    branch identically), emitted as ``floor(r_s)`` full copies of every row
    plus one extra copy for rows whose md5 bucket falls under the
    fractional remainder — the same stable-bucket rule as
    :func:`hash_sample`, so the output is reproducible on any partitioning
    or engine. Output = input rows with a ``copy_id`` (0-based).

    Scale: one tiny per-stratum count aggregation; rates broadcast; the
    copy fan-out is a map-only ``explode(sequence(...))`` — no shuffle on
    the corpus."""
    # persisted: consumed by the normalizer aggregate AND the rate join —
    # also cuts the counts↔aggregate-of-counts self-lineage that makes the
    # crossJoin's `_n` reference ambiguous
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n"))
    if cache:
        counts = counts.persist()
    tot = counts.agg(
        F.sum("_n").alias("_N"),
        F.sum(F.pow(F.col("_n").cast("double"), F.lit(float(alpha)))).alias("_Z"),
    )
    # alias both sides: tot is an aggregate OF counts, so an unqualified
    # `_n` after the crossJoin is a same-lineage ambiguous reference
    rates = counts.alias("_tc").crossJoin(F.broadcast(tot.alias("_tt"))).select(
        F.col(f"_tc.{strata_col}").alias(strata_col),
        F.round(
            F.pow(F.col("_tc._n").cast("double"), F.lit(float(alpha)))
            / F.col("_tt._Z")
            * F.col("_tt._N")
            / F.col("_tc._n"),
            6,
        ).alias("_r"),
    )
    whole = F.floor("_r").cast("int")
    frac_thr = F.floor((F.col("_r") - F.floor("_r")) * buckets + F.lit(0.5))
    n_copies = (
        whole + (_bucket(F.col(key), buckets) < frac_thr).cast("int")
    ).alias("_k")
    out = (
        df.join(F.broadcast(rates), strata_col)
        .select(*df.columns, n_copies)
        .where(F.col("_k") > 0)
        .select(
            *df.columns,
            F.explode(F.sequence(F.lit(0), F.col("_k") - 1)).alias("copy_id"),
        )
    )
    # caller-owned cache lifecycle (repo convention): the persisted
    # per-stratum counts frame is strata-sized; release it after the
    # resample is materialized in long-lived sessions
    out._stage_caches = [counts] if cache else []
    return out


def epoch_shuffle(
    df: DataFrame,
    key: str,
    seed: int,
    shard_size: int = 64,
    n_buckets: int = 256,
) -> DataFrame:
    """Deterministic global permutation for a training epoch: every row gets
    a dense position ``pos`` in [0, N) ordered by ``md5(seed || ':' || key)``
    (ties broken by the key itself), plus the training shard
    ``pos div shard_size`` that position lands in. Re-seeding re-deals the
    whole corpus — the standard per-epoch reshuffle of an LLM data loader,
    reproducible on any cluster layout because nothing depends on partition
    arrival order.

    Scale design — the same DISTRIBUTED PREFIX SUM as
    ``chunking.pack_token_sequences``, not a global sort: a single
    ``row_number`` over all rows would funnel 100 TB through one reducer.
    Instead (1) the md5 sort key is uniform, so its leading byte splits the
    keyspace into ``n_buckets`` contiguous, deterministic, near-equal
    ranges; (2) one keyed aggregation counts rows per bucket; (3) bucket
    offsets come from a running total over the bucket-summary frame
    (bounded: ``n_buckets`` rows — the only unpartitioned window); (4)
    in-bucket ranks are a window partitioned by bucket. ``pos`` =
    bucket offset + in-bucket rank.
    """
    from pyspark.sql.window import Window

    if shard_size <= 0:
        raise ValueError("shard_size must be positive")
    hk = F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(key).cast("string")))
    b = df.withColumn("_hk", hk).withColumn(
        "_bkt", F.conv(F.substring("_hk", 1, 2), 16, 10).cast("int")
    )
    bucket_n = b.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_bn"))
    w_off = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = bucket_n.select(
        "_bkt", (F.sum("_bn").over(w_off) - F.col("_bn")).alias("_boff")
    )
    w_in = Window.partitionBy("_bkt").orderBy("_hk", key)
    pos = (F.col("_boff") + F.row_number().over(w_in) - 1).cast("long")
    return (
        b.join(F.broadcast(offsets), "_bkt")
        .select(*df.columns, pos.alias("pos"))
        .withColumn("shard_id", F.expr(f"pos div {shard_size}").cast("long"))
    )


def token_budget_waterfill(
    df: DataFrame,
    budget: int = 0,
    group_col: str = "source",
    text_col: str = "text",
    budget_total_frac: tuple[int, int] | None = None,
) -> DataFrame:
    """Mixture planning by waterfilling: split a total token ``budget``
    across sources so every source keeps min(its tokens, L) for the unique
    level L that exhausts the budget exactly — small sources keep
    everything, large sources are capped equally (the max-min fair
    allocation used to flatten a training mixture under a token budget;
    temperature sampling's hard-cap cousin).

    Closed-form integer solve, no iteration: sources sort by token count
    (asc, name tie-break); the level's segment is the first rank i where
    ``prefix_{i-1} + n_i · (S − i + 1) ≥ budget``; then
    ``L = (budget − prefix) div remaining`` and the integer remainder goes
    one token each to the first ``rem`` capped sources. If the budget
    covers everything, nothing is capped.

    Per source: ``(group, n_tokens, alloc_tokens, capped)``; allocations
    sum EXACTLY to min(budget, total). Scale: one corpus scan collapses to
    the |sources|-row frame; every window after that is sources-sized."""
    from azure_medicine_data_engineering_spark.operators.text import token_count

    per_src = df.groupBy(F.col(group_col).alias("src")).agg(
        F.sum(token_count(F.col(text_col)).cast("long")).alias("n_tokens")
    )
    return waterfill_from_counts(
        per_src, budget, group_col=group_col,
        budget_total_frac=budget_total_frac,
    )


def waterfill_from_counts(
    per_src: DataFrame,
    budget: int = 0,
    group_col: str = "source",
    budget_total_frac: tuple[int, int] | None = None,
) -> DataFrame:
    """The waterfill solve on a PRE-AGGREGATED ``(src, n_tokens)`` frame
    (round 15 — the streaming frontier budget re-runs the solve per
    trigger on accumulated per-host count partials, so the count pass
    and the solve must be separable). Same closed form and output as
    :func:`token_budget_waterfill`.

    ``budget_total_frac`` (optimization round 15 — guide §5 "the driver
    should do almost no data work"): when set to ``(num, den)``, the
    budget scalar is ``(total_tokens * num) div den`` computed IN-PLAN
    from the solve's own ``_total`` window instead of a literal the
    caller obtained via a driver-side ``count()``/``collect()`` round
    trip — one fewer Spark job per solve, bit-identical because the
    caller's Python ``int(total) * num // den`` on a non-negative total
    is the same floor division."""
    from pyspark.sql.window import Window

    if budget_total_frac is not None:
        num, den = budget_total_frac
        b_expr = f"((_total * {int(num)}) div {int(den)})"
    else:
        b_expr = str(int(budget))

    w = Window.orderBy("n_tokens", "src")
    wall = Window.partitionBy()
    ranked = per_src.select(
        "src",
        "n_tokens",
        F.row_number().over(w).alias("_i"),
        (F.sum("n_tokens").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ) - F.col("n_tokens")).alias("_prefix"),
        F.count(F.lit(1)).over(wall).alias("_S"),
        F.sum("n_tokens").over(wall).alias("_total"),
    )
    feasible = (
        F.col("_prefix")
        + F.col("n_tokens") * (F.col("_S") - F.col("_i") + 1)
        >= F.expr(b_expr)
    )
    istar = ranked.where(feasible).agg(
        F.min("_i").alias("_istar"),
        F.min_by("_prefix", "_i").alias("_pstar"),
    )
    out = (
        ranked.crossJoin(F.broadcast(istar))
        .select(
            F.col("src").alias(group_col),
            "n_tokens",
            F.when(
                F.col("_istar").isNull() | (F.col("_i") < F.col("_istar")),
                F.col("n_tokens"),
            )
            .otherwise(
                F.expr(f"({b_expr} - _pstar) div (_S - _istar + 1)")
                + (
                    (F.col("_i") - F.col("_istar"))
                    < F.expr(f"({b_expr} - _pstar) % (_S - _istar + 1)")
                ).cast("long")
            )
            .cast("long")
            .alias("alloc_tokens"),
        )
        .withColumn("capped", F.col("alloc_tokens") < F.col("n_tokens"))
    )
    return out


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting (round 11).
# ---------------------------------------------------------------------------

#: Shared finalization strings (Spark F.expr + DuckDB verbatim — identical
#: IEEE sequences; scientific literals per repo convention). The alpha
#: integer snaps exp-scaled token masses onto a 1e2 grid BEFORE the
#: normalizing sum, so the cross-domain sum is exact-integer on both
#: engines (double sums over domains would be fold-order-dependent).
DOREMI_ALPHA_EXPR = (
    "CAST(FLOOR(n_tokens * 1e0 * exp(1e0 * excess_micro / 1e6) * 1e2"
    " + 0.5e0) AS BIGINT)"
)
DOREMI_WEIGHT_EXPR = (
    "round((1e0 - 1e-2) * (alpha * 1e0 / alpha_sum) + 1e-2 / k, 6)"
)


def doremi_domain_weights(
    df: DataFrame,
    domain_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Domain mixture weights, DoReMi-shaped (Xie et al. 2023, "DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    upweight domains whose EXCESS loss over a reference is largest via
    an exponentiated-gradient step on the token-share prior, then smooth
    with the uniform mixture. This engine's deterministic twin uses the
    corpus-self unigram LM as the proxy (the CCNet-tier loss this repo
    already scores documents with): per-domain mean NLL on the 1e-6
    integer grid, excess clamped at 0 against the GLOBAL mean (the
    "reference model" of the data-engine setting), one EG step
    ``alpha_d ∝ tokens_d · exp(eta · excess_d)`` (eta = 1), 1%-uniform
    smoothing — emitted as ``(g, n_docs, n_tokens, nll_micro,
    excess_micro, weight)``.

    Scale plan: ONE token explode; the unigram model is a token-keyed
    collapse; per-domain sums are a domain-keyed collapse; the
    normalizing constant is exact-integer (``DOREMI_ALPHA_EXPR`` snaps
    before the sum — domain-count-sized, broadcast back). No windows,
    no driver-side loops."""
    toks = df.select(
        F.col(domain_col).alias("g"),
        F.explode(
            F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
        ).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").cast("long").alias("total"))
    lpu = (
        vocab.crossJoin(F.broadcast(tot))
        .selectExpr(
            "tok",
            "CAST(ROUND(ln(cnt / (total * 1e0)) * 1e6) AS BIGINT) AS lpu",
        )
    )
    per_dom = (
        toks.join(lpu, "tok")
        .groupBy("g")
        .agg(
            # DECIMAL(38,0) accumulator: per-domain SUM(lpu) is ~1e7-magnitude
            # per token, so a BIGINT sum wraps silently (ANSI off) near 1e12
            # tokens/domain — exactly the 100-TB scale; DuckDB's HUGEINT is
            # already exact on the oracle side (micro-grid sum convention)
            F.sum(F.col("lpu").cast("decimal(38,0)")).alias("slpu"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )
    docs = df.groupBy(F.col(domain_col).alias("g")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    base = per_dom.agg(
        F.sum("slpu").alias("slpu_all"),  # stays DECIMAL(38,0)
        F.sum("n_tokens").cast("long").alias("n_all"),
    ).selectExpr("(-slpu_all) div n_all AS base_micro")
    staged = (
        per_dom.join(docs, "g")
        .crossJoin(F.broadcast(base))
        .selectExpr(
            "g",
            "n_docs",
            "n_tokens",
            "(-slpu) div n_tokens AS nll_micro",
            # clamp at 5 nats (5e6 micro): a pathological all-OOV domain would
            # otherwise push exp(excess)·tokens·1e2 past BIGINT at ~1e12
            # tokens (DoReMi itself bounds per-token excess); 5 nats is far
            # beyond any realistic domain gap, so the clamp never binds on
            # real mixtures
            "least(greatest((-slpu) div n_tokens - base_micro, 0), 5000000)"
            " AS excess_micro",
        )
        .selectExpr("*", f"{DOREMI_ALPHA_EXPR} AS alpha")
    )
    norm = staged.agg(
        F.sum("alpha").cast("long").alias("alpha_sum"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    return (
        staged.crossJoin(F.broadcast(norm))
        .selectExpr(
            "g",
            "n_docs",
            "n_tokens",
            "nll_micro",
            "excess_micro",
            f"{DOREMI_WEIGHT_EXPR} AS weight",
        )
    )
