"""Statistics / mining / ML / streaming / multimodal queries (SURVEY §2.11,
§2.12, §2.9 extension). FPGrowth gets a brute-force SQL oracle (the item
vocabulary is 5 event types → 31 subsets enumerable); streaming twins share
their batch queries' oracles; permutation tests and the ML pipeline are
rows-only (non-SQL-expressible: seeded resampling, tree training).
"""

from __future__ import annotations

import itertools
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azure_medicine_data_engineering_spark.session import ensure_parallelism  # noqa: E402
from azure_medicine_data_engineering_spark.queries.registry import (
    events_table,
    register,
    table as _t,
)
from azure_medicine_data_engineering_spark.sources.readers import from_rows

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _fpgrowth_oracle(min_support: float = 0.1, min_confidence: float = 0.6) -> str:
    """Brute-force association rules in SQL: enumerate all 31 item subsets,
    compute supports with list_has_all, derive single-consequent rules the
    way FPGrowth does (minCount = ceil(minSupport·n), conf ≥ minConfidence)."""
    subsets = []
    for r in range(1, len(_EVENT_TYPES) + 1):
        for combo in itertools.combinations(sorted(_EVENT_TYPES), r):
            arr = ", ".join(f"'{c}'" for c in combo)
            subsets.append(f"([{arr}])")
    values = ",\n      ".join(subsets)
    return f"""
    WITH txn AS (
      SELECT user_id, list_distinct(list(event_type)) AS items
      FROM events GROUP BY user_id
    ),
    tot AS (SELECT COUNT(*) AS n FROM txn),
    subsets AS (SELECT * FROM (VALUES
      {values}
    ) s(items)),
    supp AS (
      SELECT s.items,
             (SELECT COUNT(*) FROM txn t WHERE list_has_all(t.items, s.items)) AS freq
      FROM subsets s
    ),
    rules AS (
      SELECT i.items AS itemset, c.c AS consequent,
             list_sort(list_filter(i.items, x -> x <> c.c)) AS antecedent,
             i.freq AS freq_i
      FROM supp i, (SELECT unnest(items) AS c FROM supp WHERE len(items) = 1) c(c)
      WHERE len(i.items) >= 2 AND list_contains(i.items, c.c)
    )
    SELECT array_to_string(r.antecedent, ',') AS antecedent,
           r.consequent,
           ROUND(CAST(r.freq_i / tot.n AS DOUBLE), 4) AS support,
           ROUND(CAST(r.freq_i / a.freq AS DOUBLE), 4) AS confidence,
           ROUND(CAST((r.freq_i / a.freq) / (co.freq / tot.n) AS DOUBLE), 4) AS lift
    FROM rules r
    JOIN supp a ON list_sort(a.items) = r.antecedent
    JOIN supp co ON co.items = [r.consequent]
    CROSS JOIN tot
    WHERE r.freq_i >= ceil({min_support} * tot.n)
      AND a.freq >= ceil({min_support} * tot.n)
      AND r.freq_i / a.freq >= {min_confidence}
    """


@register("fpgrowth_event_rules", _fpgrowth_oracle())
def q_fpgrowth_event_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5: association rules over per-user event-type baskets via distributed
    FPGrowth (replaces the reference's single-node R apriori, R.r:502-528)."""
    from azure_medicine_data_engineering_spark.functions.mining import association_rules

    ev = events_table(spark, sf_dir)
    txn = ev.groupBy("user_id").agg(F.collect_set("event_type").alias("items"))
    return association_rules(txn, min_support=0.1, min_confidence=0.6, min_lift=None)


_PERM_ORACLE = """
    SELECT event_type AS hypothesis,
           CAST(COUNT(CASE WHEN user_id % 2 = 0 THEN value END) AS BIGINT) AS n_a,
           CAST(COUNT(CASE WHEN user_id % 2 <> 0 THEN value END) AS BIGINT) AS n_b,
           ROUND(CAST(
             CAST(SUM(CASE WHEN user_id % 2 = 0
                  THEN CAST(ROUND(value * 100) AS BIGINT) END) AS DOUBLE) / 100
               / COUNT(CASE WHEN user_id % 2 = 0 THEN value END)
             - CAST(SUM(CASE WHEN user_id % 2 <> 0
                  THEN CAST(ROUND(value * 100) AS BIGINT) END) AS DOUBLE) / 100
               / COUNT(CASE WHEN user_id % 2 <> 0 THEN value END)
             AS DOUBLE), 4) AS observed_diff,
           TRUE AS p_valid
    FROM events GROUP BY event_type
    """


@register("permutation_tests_by_event_type", _PERM_ORACLE)
def q_permutation_tests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: per-hypothesis two-sample permutation tests fanned out via
    applyInPandas (hypothesis = event_type; groups = even/odd user).

    Oracle contract: group sizes and the observed mean difference are exact
    SQL aggregates (convention-rounded, CLAUDE.md); the seeded p-value is not
    SQL-expressible, so it is exported as ``p_valid`` — p lies in
    [1/(n+1), 1] and p·(n+1) is integral, the invariants of the
    (count+1)/(n+1) estimator. A broken kernel (NaN/None/out-of-range p)
    flips ``p_valid`` and fails the hash. Exact p-values are pinned in
    tests/test_stats.py."""
    from azure_medicine_data_engineering_spark.functions.stats import (
        permutation_test_grouped,
    )

    n_perm = 200
    ev = events_table(spark, sf_dir).withColumn(
        "grp", (F.col("user_id") % 2 == 0)
    )
    res = permutation_test_grouped(
        ev, "event_type", "value", "grp", n_permutations=n_perm, seed=42
    )
    cents = F.round(F.col("value") * 100).cast("long")
    sum_a = F.sum(F.when(F.col("grp"), cents)).cast("double") / 100
    cnt_a = F.count(F.when(F.col("grp"), F.col("value")))
    sum_b = F.sum(F.when(~F.col("grp"), cents)).cast("double") / 100
    cnt_b = F.count(F.when(~F.col("grp"), F.col("value")))
    observed = ev.groupBy(F.col("event_type").alias("hypothesis")).agg(
        F.round((sum_a / cnt_a - sum_b / cnt_b).cast("double"), 4).alias(
            "observed_diff"
        )
    )
    scaled = F.col("p_value") * (n_perm + 1)
    p_valid = (
        (F.col("p_value") >= 1.0 / (n_perm + 1))
        & (F.col("p_value") <= 1.0)
        & (F.abs(scaled - F.round(scaled, 0)) < 1e-6)
    )
    return (
        res.select("hypothesis", "n_a", "n_b", p_valid.alias("p_valid"))
        .join(observed, "hypothesis")
        .select("hypothesis", "n_a", "n_b", "observed_diff", "p_valid")
    )


@register(
    "fisher_exact_orders",
    """
    SELECT CAST(SUM(CASE WHEN flag_status AND flag_price THEN 1 ELSE 0 END) AS BIGINT) AS a,
           CAST(SUM(CASE WHEN flag_status AND NOT flag_price THEN 1 ELSE 0 END) AS BIGINT) AS b,
           CAST(SUM(CASE WHEN NOT flag_status AND flag_price THEN 1 ELSE 0 END) AS BIGINT) AS c,
           CAST(SUM(CASE WHEN NOT flag_status AND NOT flag_price THEN 1 ELSE 0 END) AS BIGINT) AS d
    FROM (
      SELECT o_orderstatus = 'F' AS flag_status,
             o_totalprice > 150000 AS flag_price
      FROM orders
    ) t
    """,
)
def q_fisher_exact_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4 cell counts: 2×2 contingency (status×price). The Fisher p-value
    itself is computed driver-side (see tests/test_stats.py for the exact
    p-value check); the oracle validates the distributed contingency build."""
    o = _t(spark, sf_dir, "orders")
    flag_status = (F.col("o_orderstatus") == "F")
    flag_price = F.col("o_totalprice") > 150000
    return o.select(flag_status.alias("s"), flag_price.alias("p")).agg(
        F.sum(F.when(F.col("s") & F.col("p"), 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(F.col("s") & ~F.col("p"), 1).otherwise(0)).cast("long").alias("b"),
        F.sum(F.when(~F.col("s") & F.col("p"), 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(~F.col("s") & ~F.col("p"), 1).otherwise(0)).cast("long").alias("d"),
    )


_U48 = float((1 << 48) + 1)

_SABHA_ORACLE = f"""
    WITH h AS (
      SELECT hypothesis, block,
             ROUND(CASE WHEN psize <= 5 THEN u * 0.001 ELSE u END, 8) AS p
      FROM (
        SELECT p_partkey AS hypothesis, p_brand AS block, p_size AS psize,
               (CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 12))
                AS BIGINT) + 1.0) / {_U48!r} AS u
        FROM part
      )
    ),
    q AS (
      SELECT block,
             LEAST(1.0, GREATEST(0.1,
               AVG(CASE WHEN p > 0.5 THEN 1.0 ELSE 0.0 END) / 0.5)) AS qhat
      FROM h GROUP BY block
    ),
    wgt AS (
      SELECT h.hypothesis, h.block, h.p, q.qhat,
             CASE WHEN h.p <= 0.5 THEN q.qhat * h.p END AS wp
      FROM h JOIN q USING (block)
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY wp ASC NULLS LAST, hypothesis) AS rk,
             (SELECT COUNT(*) FROM h) AS n
      FROM wgt
    ),
    k AS (SELECT MAX(rk) AS kmax FROM r WHERE wp <= 0.05 * rk / n)
    SELECT r.hypothesis, r.block, ROUND(r.p, 4) AS p, ROUND(r.qhat, 4) AS qhat,
           CAST(r.rk AS INT) AS rk,
           COALESCE(r.rk <= k.kmax, FALSE) AS selected
    FROM r, k
    """


_STOREY_ORACLE = f"""
    WITH h AS (
      SELECT hypothesis,
             ROUND(CASE WHEN psize <= 5 THEN u * 0.001 ELSE u END, 8) AS p
      FROM (
        SELECT p_partkey AS hypothesis, p_size AS psize,
               (CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 12))
                AS BIGINT) + 1.0) / {_U48!r} AS u
        FROM part
      )
    ),
    pi AS (
      SELECT LEAST(1.0, AVG(CASE WHEN p > 0.5 THEN 1.0 ELSE 0.0 END) / 0.5)
               AS pi0,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM h
    ),
    r AS (
      SELECT h.hypothesis, h.p, pi.pi0, pi.n,
             CASE WHEN h.p <= 0.5 THEN h.p END AS wp,
             ROW_NUMBER() OVER (
               ORDER BY (CASE WHEN h.p <= 0.5 THEN h.p END) ASC NULLS LAST,
                        h.hypothesis) AS rk
      FROM h, pi
    ),
    k AS (SELECT MAX(rk) AS kmax FROM r WHERE wp * pi0 <= 0.05 * rk / n)
    SELECT r.hypothesis, ROUND(r.p, 4) AS p, ROUND(r.pi0, 4) AS pi0,
           CAST(r.rk AS INT) AS rk,
           COALESCE(r.wp IS NOT NULL AND r.rk <= k.kmax, FALSE) AS selected
    FROM r, k
    """


@register("storey_fdr_selection", _STOREY_ORACLE)
def q_storey_fdr_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storey adaptive-FDR selection (``Storey_method``, ``Hypothesis
    testing R.r:293-298``) run DISTRIBUTED over the same seeded hypothesis
    set as ``sabha_adjusted_selection`` (one md5-derived p-value per part,
    small-size parts injected as signal) — round 10 closes the last
    defined-but-uncalled reference corrections. π̂₀ is a 1-row broadcast
    aggregate; the BH step at level α/π̂₀ is the same hypothesis-frame
    global ranking as BH/SABHA. The oracle recomputes π̂₀, the censored
    ranking, and the k_max cutoff in SQL — the whole selection set must
    match row-for-row. Storey rejects a SUPERSET of plain BH here (π̂₀ ≈
    the true null fraction < 1 inflates the level)."""
    from azure_medicine_data_engineering_spark.functions.stats import (
        storey_select_df,
    )

    part = _t(spark, sf_dir, "part")
    h48 = F.conv(
        F.substring(F.md5(F.col("p_partkey").cast("string")), 1, 12), 16, 10
    ).cast("long")
    u = (h48 + F.lit(1.0)) / F.lit(_U48)
    hyp = part.select(
        F.col("p_partkey").alias("hypothesis"),
        F.round(F.when(F.col("p_size") <= 5, u * 0.001).otherwise(u), 8).alias("p"),
    )
    out = storey_select_df(hyp, "hypothesis", "p", alpha=0.05, thr=0.5)
    return out.select(
        "hypothesis",
        F.round("p", 4).alias("p"),
        F.round("pi0", 4).alias("pi0"),
        F.col("rk").cast("int").alias("rk"),
        "selected",
    )


@register("sabha_adjusted_selection", _SABHA_ORACLE)
def q_sabha_adjusted_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 driver-checkable: structure-adaptive BH (SABHA, ``Hypothesis
    testing R.r:166-213,300-305``) run DISTRIBUTED over a seeded
    hypothesis set — one p-value per part (md5-derived uniform, small-size
    parts injected as signal at p×0.001), blocks = brand.
    The oracle recomputes blockwise q̂, the censored weighted ranking, and
    the BH k_max cutoff in SQL, so the whole selection set must match
    row-for-row."""
    from azure_medicine_data_engineering_spark.functions.stats import sabha_select_df

    part = _t(spark, sf_dir, "part")
    h48 = F.conv(
        F.substring(F.md5(F.col("p_partkey").cast("string")), 1, 12), 16, 10
    ).cast("long")
    u = (h48 + F.lit(1.0)) / F.lit(_U48)
    hyp = part.select(
        F.col("p_partkey").alias("hypothesis"),
        F.col("p_brand").alias("block"),
        F.round(F.when(F.col("p_size") <= 5, u * 0.001).otherwise(u), 8).alias("p"),
    )
    out = sabha_select_df(hyp, "hypothesis", "p", "block", alpha=0.05, tau=0.5, eps=0.1)
    return out.select(
        "hypothesis",
        "block",
        F.round("p", 4).alias("p"),
        F.round("qhat", 4).alias("qhat"),
        F.col("rk").cast("int").alias("rk"),
        "selected",
    )


_ROC_ORACLE = """
    WITH s AS (
      SELECT o_totalprice AS threshold,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    g AS (
      SELECT threshold, CAST(SUM(y) AS BIGINT) AS pos,
             CAST(SUM(1 - y) AS BIGINT) AS neg
      FROM s GROUP BY threshold
    ),
    c AS (
      SELECT threshold,
             CAST(SUM(neg) OVER (ORDER BY threshold DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
             CAST((SELECT SUM(pos) FROM g) - SUM(pos) OVER (ORDER BY threshold DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fn
      FROM g
    )
    SELECT threshold, fp, fn, ROUND(1.0 * fp + 1.0 * fn, 4) AS cost
    FROM c ORDER BY cost, threshold LIMIT 1
    """


@register("roc_optimal_cutoff", _ROC_ORACLE)
def q_roc_optimal_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 driver-checkable: equal-cost ROC-optimal threshold (``thres2``,
    R.r:566-574) computed DISTRIBUTED — per-candidate (pos, neg) counts via
    one groupBy, FP/FN at every threshold via one cumulative sweep over the
    candidate frame, min-cost row with a lowest-threshold tie-break. Scores
    = order totalprice, labels = urgent/high priority; confusion counts are
    integer-exact so the oracle match is bit-for-bit."""
    from azure_medicine_data_engineering_spark.functions.stats import (
        roc_optimal_cutoff_df,
    )

    o = _t(spark, sf_dir, "orders")
    labeled = o.select(
        F.col("o_totalprice").alias("score"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("label"),
    )
    return roc_optimal_cutoff_df(labeled, "score", "label").select(
        "threshold", "fp", "fn", "cost"
    )


_ML_TREE_ORACLE = """
    WITH b AS (
      SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4)) AS BIGINT)
             % 100 AS bucket
      FROM orders
    )
    SELECT CAST(SUM(CASE WHEN bucket < 70 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN bucket >= 70 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN bucket >= 70 THEN 1 ELSE 0 END) AS BIGINT) AS n_pred,
           TRUE AS acc_valid,
           TRUE AS auc_valid
    FROM b
    """


@register("ml_decision_tree_orders", _ML_TREE_ORACLE)
def q_ml_decision_tree_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1-M8: impute→scale→decision-tree pipeline predicting order status 'F'
    from price/date features; deterministic md5-hash split.

    Oracle contract: the md5-bucket split is engine-replicable, so
    n_train/n_test/n_pred hash exactly; tree metrics are not SQL-expressible
    and export unit-interval validity booleans (a failed fit/evaluate yields
    NaN/None and flips them). Exact metric values pinned in
    tests/test_multimodal_ml.py."""
    from azure_medicine_data_engineering_spark.ml.pipeline import (
        evaluate,
        hash_split,
        train_decision_tree,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.month("o_orderdate").cast("double").alias("order_month"),
        F.length("o_orderpriority").cast("double").alias("priority_len"),
        (F.col("o_orderstatus") == "F").cast("double").alias("label"),
    )
    train, test = hash_split(o, "o_orderkey", 0.7)
    features = ["price", "order_month", "priority_len"]
    model = train_decision_tree(train, features, "label")
    result = evaluate(model, test, features, "label")
    n_pred = model.transform(test).count()
    acc, auc = result.metrics["accuracy"], result.metrics["auc"]
    return from_rows(
        spark,
        [
            (
                train.count(),
                test.count(),
                n_pred,
                bool(acc == acc and 0.0 <= acc <= 1.0),
                bool(auc == auc and 0.0 <= auc <= 1.0),
            )
        ],
        "n_train long, n_test long, n_pred long, acc_valid boolean, auc_valid boolean",
    )


_ML_QUALITY_LR_ORACLE = """
    WITH b AS (
      SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
             % 100 AS bucket,
             CASE WHEN length(text) >= 170 THEN 1 ELSE 0 END AS y
      FROM documents
    )
    SELECT CAST(SUM(CASE WHEN bucket < 70 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
           CAST(SUM(CASE WHEN bucket >= 70 THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN bucket < 70 THEN y ELSE 0 END) AS BIGINT) AS n_pos_train,
           CAST(SUM(CASE WHEN bucket >= 70 THEN y ELSE 0 END) AS BIGINT) AS n_pos_test,
           TRUE AS acc_valid,
           TRUE AS auc_valid
    FROM b
    """


@register("ml_quality_classifier_docs", _ML_QUALITY_LR_ORACLE)
def q_ml_quality_classifier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed training of the hashed quality classifier
    (``ml/pipeline.py:train_quality_lr``): the same 256 ``h(tok) % D``
    buckets the serving path scores with (``operators/text_rank.py:
    hashed_linear_scores``), assembled into count features and fit with
    Spark ML LogisticRegression against the length>=170 reference-class
    weak label — the fastText-shape train-where-the-data-lives loop.
    Deterministic md5-bucket 70/30 split (``hash_split``).

    Oracle contract (the ``ml_decision_tree_orders`` pattern): split
    sizes and per-split label counts are engine-replicable and hash
    exactly; LBFGS metrics are not SQL-expressible and export
    unit-interval validity booleans. Exact metrics (AUC 1.0 on a planted
    separable corpus, integer confusion counts) are pinned in
    tests/test_multimodal_ml.py."""
    from azure_medicine_data_engineering_spark.ml.pipeline import (
        hash_split,
        hashed_token_features,
        train_quality_lr,
    )

    d = _t(spark, sf_dir, "documents")
    feats, cols = hashed_token_features(d, "text", "doc_id", n_buckets=256)
    labeled = feats.join(
        d.select("doc_id", (F.length("text") >= 170).cast("double").alias("label")),
        "doc_id",
    )
    train, test = hash_split(labeled, "doc_id", 0.7)
    train = train.persist()
    test = test.persist()
    model = train_quality_lr(train, cols, "label")
    from pyspark.ml.evaluation import (
        BinaryClassificationEvaluator,
        MulticlassClassificationEvaluator,
    )

    pred = model.transform(test)
    auc = BinaryClassificationEvaluator(
        labelCol="label", metricName="areaUnderROC"
    ).evaluate(pred)
    acc = MulticlassClassificationEvaluator(
        labelCol="label", metricName="accuracy"
    ).evaluate(pred)
    counts = (
        train.agg(
            F.count(F.lit(1)).cast("long").alias("n_train"),
            F.sum("label").cast("long").alias("n_pos_train"),
        )
        .crossJoin(
            test.agg(
                F.count(F.lit(1)).cast("long").alias("n_test"),
                F.sum("label").cast("long").alias("n_pos_test"),
            )
        )
        .collect()[0]
    )
    train.unpersist()
    test.unpersist()
    return from_rows(
        spark,
        [
            (
                counts["n_train"],
                counts["n_test"],
                counts["n_pos_train"],
                counts["n_pos_test"],
                bool(acc == acc and 0.0 <= acc <= 1.0),
                bool(auc == auc and 0.0 <= auc <= 1.0),
            )
        ],
        "n_train long, n_test long, n_pos_train long, n_pos_test long, "
        "acc_valid boolean, auc_valid boolean",
    )


# ---------------------------------------------------------------------------
# Streaming twins — share the batch queries' oracles (identical output).
# ---------------------------------------------------------------------------

from azure_medicine_data_engineering_spark.queries import events as _events_queries
from azure_medicine_data_engineering_spark.queries.registry import ORACLES as _O


@register("streaming_tumbling_hourly", _O["events_tumbling_hourly"])
def q_streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from azure_medicine_data_engineering_spark.streaming.windows import (
        streaming_tumbling_hourly,
    )

    return streaming_tumbling_hourly(spark, sf_dir)


@register("streaming_sessionization", _O["events_sessionization"])
def q_streaming_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from azure_medicine_data_engineering_spark.streaming.windows import (
        streaming_session_windows,
    )

    return streaming_session_windows(spark, sf_dir)


@register(
    "streaming_dedup_watermark",
    """
    SELECT user_id, CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_distinct_types
    FROM events GROUP BY user_id
    """,
)
def q_streaming_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from azure_medicine_data_engineering_spark.streaming.windows import (
        streaming_dedup_within_watermark,
    )

    return streaming_dedup_within_watermark(spark, sf_dir)


# ---------------------------------------------------------------------------
# Multimodal: binary payload + Arrow-batched decode (deterministic fake).
# ---------------------------------------------------------------------------


@register(
    "multimodal_decode_metadata",
    """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents)
    SELECT doc_id AS media_id,
           'image' AS media_type,
           CAST(16 AS INT) AS byte_len,
           CAST(16 + CAST(('0x' || substr(hex, 1, 2)) AS INT) % 64 AS INT) AS width,
           CAST(16 + CAST(('0x' || substr(hex, 3, 2)) AS INT) % 64 AS INT) AS height,
           ROUND(CAST(list_sum(list_transform(range(16),
                 i -> CAST(('0x' || substr(hex, i * 2 + 1, 2)) AS INT))) / (16 * 255.0)
                 AS DOUBLE), 4) AS mean_intensity
    FROM m
    """,
)
def q_multimodal_decode_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column manufactured from document text (md5 bytes), then
    decoded via mapInPandas with the deterministic fake codec — exercises the
    real Arrow plumbing end-to-end with oracle-checkable output."""
    from azure_medicine_data_engineering_spark.operators.multimodal import (
        attach_fake_payload,
        decode_media,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_fake_payload(docs, "doc_id", "text")
    return decode_media(media)


@register(
    "multimodal_decode_png",
    """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
    d AS (
      SELECT doc_id, hex,
             4 + CAST(('0x' || substr(hex, 1, 2)) AS INT) % 13 AS width,
             4 + CAST(('0x' || substr(hex, 3, 2)) AS INT) % 11 AS height
      FROM m
    )
    SELECT doc_id AS media_id,
           'image' AS media_type,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           ROUND(CAST(list_sum(list_transform(range(width * height),
                 i -> CAST(('0x' || substr(hex, (i % 16) * 2 + 1, 2)) AS INT)))
                 / (width * height * 255.0) AS DOUBLE), 4) AS mean_intensity
    FROM d
    """,
)
def q_multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec multimodal path: genuine PNG files (manufactured
    deterministically from document text) decoded by the pure-stdlib PNG
    decoder (chunk CRC walk, inflate, defilter) inside Arrow-batched
    mapInPandas. The oracle recomputes the expected dimensions and tiled
    pixel mean from md5(text) — the full container round-trip
    (encode → IDAT → defilter → stats) must be lossless to hash-match."""
    from azure_medicine_data_engineering_spark.operators.multimodal import (
        attach_png_payload,
        decode_media,
        real_decode,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_png_payload(docs, "doc_id", "text")
    return decode_media(media, decode_fn=real_decode).select(
        "media_id", "media_type", "width", "height", "mean_intensity"
    )


@register(
    "multimodal_decode_jpeg",
    """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
    d AS (
      SELECT doc_id, hex,
             1 + CAST(('0x' || substr(hex, 1, 2)) AS INT) % 5 AS cols,
             1 + CAST(('0x' || substr(hex, 3, 2)) AS INT) % 4 AS rows
      FROM m
    )
    SELECT doc_id AS media_id,
           'image' AS media_type,
           CAST(cols * 8 AS INT) AS width,
           CAST(rows * 8 AS INT) AS height,
           ROUND(CAST(list_sum(list_transform(range(rows * cols),
                 i -> CAST(('0x' || substr(hex, (i % 16) * 2 + 1, 2)) AS INT)))
                 / (rows * cols * 255.0) AS DOUBLE), 4) AS mean_intensity
    FROM d
    """,
)
def q_multimodal_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec JPEG path: genuine baseline JPEG files (flat 8x8 blocks
    from md5(text), flat quant table of 8s) decoded by the numpy/stdlib
    baseline decoder (`operators/jpeg.py` — marker walk, canonical Huffman,
    batched IDCT) inside Arrow-batched mapInPandas. DC-only blocks make the
    lossy format's round trip BIT-EXACT (the DCT of a flat block survives
    quantization exactly), so the oracle recomputes dimensions and the luma
    mean from the md5 hex — the full container round-trip (entropy coding →
    unstuffing → Huffman → dequantize → IDCT → stats) must be lossless to
    hash-match."""
    from azure_medicine_data_engineering_spark.operators.multimodal import (
        attach_jpeg_payload,
        decode_media,
        real_decode,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_jpeg_payload(docs, "doc_id", "text")
    return decode_media(media, decode_fn=real_decode).select(
        "media_id", "media_type", "width", "height", "mean_intensity"
    )


@register(
    "multimodal_decode_jpeg_progressive",
    """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
    d AS (
      SELECT doc_id, hex,
             1 + CAST(('0x' || substr(hex, 1, 2)) AS INT) % 5 AS cols,
             1 + CAST(('0x' || substr(hex, 3, 2)) AS INT) % 4 AS rows
      FROM m
    )
    SELECT doc_id AS media_id,
           'image' AS media_type,
           CAST(cols * 8 AS INT) AS width,
           CAST(rows * 8 AS INT) AS height,
           ROUND(CAST(list_sum(list_transform(range(rows * cols),
                 i -> CAST(('0x' || substr(hex, (i % 16) * 2 + 1, 2)) AS INT)))
                 / (rows * cols * 255.0) AS DOUBLE), 4) AS mean_intensity
    FROM d
    """,
)
def q_multimodal_decode_jpeg_progressive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PROGRESSIVE (SOF2) JPEG path — round 10's closure of the
    highest-frequency real-corpus image format gap: the same flat-block
    md5(text) fixtures as ``multimodal_decode_jpeg``, but emitted as
    progressive streams through the full libjpeg-style scan script (DC
    successive approximation Al=1→0, AC spectral-selection bands with EOB
    runs) and decoded by the T.81 Annex-G progressive scan decoder
    (`operators/jpeg.py` — DC first/refine, AC first with EOB runs, AC
    refinement with correction bits). Flat DC-only blocks keep the
    multi-scan round trip BIT-EXACT ((dc >> 1) << 1 | refine-bit = dc),
    so the SAME oracle recomputes dimensions and luma mean from the md5
    hex — progressive entropy framing must be decoded losslessly end to
    end to hash-match. Map-only Arrow plan, no shuffle."""
    from azure_medicine_data_engineering_spark.operators.multimodal import (
        attach_jpeg_payload,
        decode_media,
        real_decode,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_jpeg_payload(docs, "doc_id", "text", progressive=True)
    return decode_media(media, decode_fn=real_decode).select(
        "media_id", "media_type", "width", "height", "mean_intensity"
    )


@register(
    "multimodal_jpeg_quality_gates",
    """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
    d AS (
      SELECT doc_id, hex,
             1 + CAST(('0x' || substr(hex, 1, 2)) AS INT) % 5 AS cols,
             1 + CAST(('0x' || substr(hex, 3, 2)) AS INT) % 4 AS rows
      FROM m
    ),
    b AS (
      SELECT doc_id, cols, rows,
             list_transform(range(rows * cols),
               i -> CAST(('0x' || substr(hex, (i % 16) * 2 + 1, 2)) AS BIGINT)) AS bv
      FROM d
    ),
    st AS (
      SELECT doc_id, CAST(cols * 8 AS INT) AS width, CAST(rows * 8 AS INT) AS height,
             CAST(rows * cols * 64 AS BIGINT) AS n,
             CAST(64 * list_sum(bv) AS BIGINT) AS s,
             CAST(64 * list_sum(list_transform(bv, x -> x * x)) AS BIGINT) AS q,
             CAST(list_min(bv) AS INT) AS px_min,
             CAST(list_max(bv) AS INT) AS px_max
      FROM b
    )
    SELECT doc_id AS media_id, width, height, px_min, px_max,
           CAST(px_max - px_min AS INT) AS dynamic_range,
           n * q - s * s = 0 AS is_blank,
           n * q - s * s < 64 * n * n AS is_low_contrast
    FROM st
    """,
)
def q_multimodal_jpeg_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG-corpus quality gating: planted baseline JPEGs (DC-only blocks
    from md5(text)) decoded by the round-9 baseline decoder and flagged
    blank / low-contrast by `multimodal.image_quality_flags` (σ² < t as an
    integer inequality on pixel sums). The DC-only fixtures decode
    bit-exactly, so the oracle recomputes the per-image pixel moments from
    the md5 hex — single-block images (cols = rows = 1) flag blank by
    construction. Map-only Arrow plan, same shape as the PNG gates."""
    from azure_medicine_data_engineering_spark.operators.multimodal import (
        attach_jpeg_payload,
        image_quality_flags,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_jpeg_payload(docs, "doc_id", "text")
    return image_quality_flags(media)


@register(
    "multimodal_resize_png",
    """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
    d AS (
      SELECT doc_id, hex,
             4 + CAST(('0x' || substr(hex, 1, 2)) AS INT) % 13 AS w,
             4 + CAST(('0x' || substr(hex, 3, 2)) AS INT) % 11 AS h
      FROM m
    )
    SELECT doc_id AS media_id,
           'image' AS media_type,
           CAST(8 AS INT) AS width,
           CAST(6 AS INT) AS height,
           ROUND(CAST(list_sum(list_transform(range(48),
                 idx -> CAST(('0x' || substr(hex,
                       (((((idx // 8) * h) // 6) * w + (((idx % 8) * w) // 8)) % 16) * 2 + 1,
                       2)) AS INT)))
                 / (48 * 255.0) AS DOUBLE), 4) AS mean_intensity
    FROM d
    """,
)
def q_multimodal_resize_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composable media stages: PNG payloads → nearest-neighbor resize to
    8x6 (decode, integer-index resample, re-encode — all inside one Arrow
    batch pass) → decode stats. The oracle recomputes every sampled pixel
    position from the md5-derived source image, so the resample geometry
    and the re-encode round-trip must both be exact."""
    from azure_medicine_data_engineering_spark.operators.multimodal import (
        attach_png_payload,
        decode_media,
        real_decode,
        resize_media,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_png_payload(docs, "doc_id", "text")
    small = resize_media(media, 8, 6)
    return decode_media(small, decode_fn=real_decode).select(
        "media_id", "media_type", "width", "height", "mean_intensity"
    )


@register(
    "multimodal_decode_wav",
    """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
    d AS (
      SELECT doc_id, hex,
             32 + CAST(('0x' || substr(hex, 1, 2)) AS INT) % 97 AS n
      FROM m
    )
    SELECT doc_id AS media_id,
           'audio' AS media_type,
           CAST(44 + 2 * n AS INT) AS byte_len,
           CAST(8000 AS INT) AS sample_rate,
           CAST(n AS INT) AS n_samples,
           CAST(n AS DOUBLE) / 8000 AS duration_sec,
           CAST(list_sum(list_transform(range(n),
                i -> abs((CAST(('0x' || substr(hex, (i % 16) * 2 + 1, 2)) AS INT) - 128) * 231)))
                AS DOUBLE) / n AS mean_abs_amplitude
    FROM d
    """,
)
def q_multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec audio path: genuine RIFF/PCM16 WAV files (manufactured
    deterministically from document text) parsed by the pure-stdlib chunk
    walker inside Arrow-batched mapInPandas. The oracle recomputes sample
    count, container byte size (44-byte header + 2n PCM bytes), duration
    and mean |amplitude| from md5(text) — the full encode → chunk-walk →
    PCM-unpack round-trip must be lossless to hash-match. Stats are single
    IEEE divisions of exact integer sums, so no rounding is applied on
    either side."""
    from azure_medicine_data_engineering_spark.operators.media_av import (
        attach_wav_payload,
        decode_audio,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_wav_payload(docs, "doc_id", "text")
    return decode_audio(media)


@register(
    "multimodal_frame_sample",
    """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
    d AS (
      SELECT doc_id, hex,
             2 + CAST(('0x' || substr(hex, 1, 2)) AS INT) % 7 AS w,
             2 + CAST(('0x' || substr(hex, 3, 2)) AS INT) % 5 AS h,
             4 + CAST(('0x' || substr(hex, 5, 2)) AS INT) % 9 AS nf
      FROM m
    ),
    f AS (
      SELECT doc_id, hex, w, h,
             CAST(unnest(range(0, nf, 2)) AS INT) AS frame_idx
      FROM d
    )
    SELECT doc_id AS media_id, frame_idx,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(list_sum(list_transform(range(w * h),
                p -> CAST(('0x' || substr(hex, ((frame_idx + p) % 16) * 2 + 1, 2)) AS INT)))
                AS DOUBLE) / (w * h * 255.0) AS frame_mean
    FROM f
    """,
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video decode-and-sample stage: VID0 raw-frame containers
    (deterministic fixtures from document text) demuxed inside one Arrow
    batch pass, keeping every 2nd frame and fanning each payload row out to
    per-frame stat rows — the shape of a production frame-extraction stage
    (one input row → n output rows, no shuffle). The oracle regenerates
    every sampled frame's pixel bytes from md5(text) and recomputes the
    frame means, so the container geometry and demux offsets must be
    exact."""
    from azure_medicine_data_engineering_spark.operators.media_av import (
        attach_video_payload,
        frame_sample,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_video_payload(docs, "doc_id", "text")
    return frame_sample(media, every_k=2)


#: shared by the AVI and MP4 demux queries — identical fixture geometry.
_VIDEO_DEMUX_ORACLE = """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
    d AS (
      SELECT doc_id, hex,
             1 + CAST(('0x' || substr(hex, 1, 2)) AS INT) % 3 AS cols,
             1 + CAST(('0x' || substr(hex, 3, 2)) AS INT) % 2 AS rows_,
             2 + CAST(('0x' || substr(hex, 5, 2)) AS INT) % 4 AS nf
      FROM m
    ),
    f AS (
      SELECT doc_id, hex, cols, rows_,
             CAST(unnest(range(nf)) AS INT) AS frame_idx
      FROM d
    )
    SELECT doc_id AS media_id, frame_idx,
           CAST(cols * 8 AS INT) AS width, CAST(rows_ * 8 AS INT) AS height,
           ROUND(CAST(list_sum(list_transform(range(rows_ * cols),
                j -> CAST(('0x' || substr(hex, ((frame_idx + j) % 16) * 2 + 1, 2)) AS INT)))
                / (rows_ * cols * 255.0) AS DOUBLE), 4) AS frame_mean
    FROM f
    """


@register(
    "multimodal_video_demux",
    _VIDEO_DEMUX_ORACLE,
)
def q_multimodal_video_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video container demux — round 10 replaces the VID0-only story:
    genuine MJPEG-in-AVI files (RIFF hdrl/strl/movi/idx1 structure, frames
    are genuine baseline JPEGs with flat DC-only blocks from md5(text))
    demuxed by the RIFF chunk walk (`media_av.avi_demux_mjpeg` — the WAV
    reader's machinery) and per-frame decoded by the round-9 baseline JPEG
    decoder, all inside one Arrow mapInPandas pass (map-only; frame
    fan-out multiplies rows, never moves them). The flat-block trick makes
    every frame's luma decode BIT-EXACT, so the oracle recomputes frame
    count, dimensions, and each frame's luma mean from the md5 hex — the
    container offsets, the JPEG entropy coding, AND the frame ordering
    must all be exact to hash-match."""
    from azure_medicine_data_engineering_spark.operators.media_av import (
        attach_avi_payload,
        video_demux_mjpeg,
    )
    from azure_medicine_data_engineering_spark.session import ensure_parallelism

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_avi_payload(docs, "doc_id", "text")
    return video_demux_mjpeg(media)


@register(
    "multimodal_video_demux_mp4",
    _VIDEO_DEMUX_ORACLE,
)
def q_multimodal_video_demux_mp4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MP4 container demux (round 13 — the ISO-BMFF/14496-12 twin of
    the MJPEG-AVI path): the same flat-block baseline-JPEG frames wrapped
    in a genuine MP4 (ftyp/mdat/moov with full stsd/stts/stsc/stsz/stco
    sample tables), demuxed by the spec box walk in `operators/mp4.py`
    (stsc run-length chunk mapping + stco/co64 offsets, moov at any
    position; H.264 sample entries raise the documented
    NotImplementedError boundary) and per-frame decoded by the baseline
    JPEG decoder in one Arrow map-only pass. Identical fixture geometry
    means the AVI demux oracle applies VERBATIM — the sample-table offset
    resolution must be byte-exact to hash-match."""
    from azure_medicine_data_engineering_spark.operators.mp4 import (
        attach_mp4_payload,
        video_demux_mp4,
    )
    from azure_medicine_data_engineering_spark.session import ensure_parallelism

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_mp4_payload(docs, "doc_id", "text")
    return video_demux_mp4(media)


@register(
    "warc_ingest_docs",
    """
    WITH m AS (
      SELECT doc_id, text, md5(text) AS hex FROM documents
    ),
    base AS (
      SELECT doc_id, text, hex,
             '<urn:uuid:' || substr(hex, 1, 8) || '-' || substr(hex, 9, 4)
               || '-' || substr(hex, 13, 4) || '-' || substr(hex, 17, 4)
               || '-' || substr(hex, 21, 12) || '>' AS rid,
             'fetch-ms: ' ||
               CAST(CAST(('0x' || substr(hex, 1, 4)) AS INT) AS VARCHAR)
               AS meta
      FROM m
    )
    SELECT doc_id AS media_id, CAST(0 AS INT) AS rec_idx,
           'response' AS warc_type, rid AS record_id,
           'https://example.org/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS content_length,
           md5(text) AS content_md5
    FROM base
    UNION ALL
    SELECT doc_id, CAST(1 AS INT), 'metadata', rid,
           NULL,
           CAST(octet_length(CAST(meta AS BLOB)) AS BIGINT),
           md5(meta)
    FROM base
    """,
)
def q_warc_ingest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingest — round 10 closes the container Common Crawl ships,
    the FIRST format a web-scale training ingest touches: genuine
    member-gzipped WARC/1.0 files (`sources/warc.py` — spec headers,
    Content-Length-authoritative blocks, one gzip member per record)
    manufactured deterministically from document text, then exploded to
    per-record rows by the multi-member-aware reader inside one Arrow
    mapInPandas pass (map-only fan-out, no shuffle). The oracle
    recomputes every field from SQL — record ids from the md5 hex,
    content lengths as UTF-8 octet counts, content md5s of the exact
    block bytes — so the gzip member walk, the header parse, AND the
    Content-Length block slicing must all be exact to hash-match."""
    from azure_medicine_data_engineering_spark.sources.warc import (
        attach_warc_payload,
        warc_ingest_records,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_warc_payload(docs, "doc_id", "text", gzip_members=True)
    return warc_ingest_records(media)


@register(
    "html_extract_text_docs",
    """
    WITH m AS (
      SELECT doc_id, substr(md5(text), 1, 8) AS hex8,
             trim(regexp_replace(text, '[ \\t\\n\\f\\r]+', ' ', 'g'))
               AS collapsed
      FROM documents
    ),
    base AS (
      SELECT doc_id,
             'T' || hex8 || chr(10) || 'Doc ' || CAST(doc_id AS VARCHAR)
             || CASE WHEN collapsed <> ''
                     THEN chr(10) || collapsed ELSE '' END AS extracted
      FROM m
    )
    SELECT doc_id AS media_id,
           CAST(length(extracted)
                - length(replace(extracted, chr(10), '')) + 1 AS BIGINT)
             AS n_lines,
           CAST(length(extracted) AS BIGINT) AS n_chars,
           md5(extracted) AS text_md5
    FROM base
    """,
)
def q_html_extract_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction — the stage between WARC ingest and the
    C4/Gopher text rules, closing the crawl chain (round 10): realistic
    pages (DOCTYPE, title, script/style noise whose BODY even contains a
    fake ``<p>`` inside a JS string, comments, escaped entities) built
    deterministically from document text, then stripped by the stdlib
    streaming extractor (`operators/html_text.py` — drop-subtree
    suppression, block-tag line splits, HTML5-whitespace collapse) inside
    one Arrow mapInPandas pass. The extraction contract makes the full
    expected TEXT SQL-recomputable (title from the md5 hex, heading from
    the id, the collapsed document text), so the oracle hashes the exact
    extracted string — entity decoding, script-CDATA handling, and the
    whitespace contract must all be exact to hash-match. Map-only."""
    from azure_medicine_data_engineering_spark.operators.html_text import (
        attach_html_payload,
        extract_text_stats,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_html_payload(docs, "doc_id", "text")
    return extract_text_stats(media)


@register(
    "crawl_ingest_e2e_docs",
    """
    WITH m AS (
      SELECT doc_id, text, substr(md5(text), 1, 8) AS hex8,
             replace(replace(replace(text, '&', '&amp;'),
                     '<', '&lt;'), '>', '&gt;') AS esc,
             trim(regexp_replace(text, '[ \\t\\n\\f\\r]+', ' ', 'g'))
               AS collapsed
      FROM documents
    ),
    pg AS (
      SELECT doc_id, hex8, collapsed,
             '<!DOCTYPE html><html><head><title>T' || hex8
             || '</title><script type="text/javascript">var p = "<p>NOISE</p>";</script><style>p { color: red }</style></head><body><h1>Doc '
             || CAST(doc_id AS VARCHAR) || '</h1><p>' || esc
             || '</p><!-- crawler comment --></body></html>' AS page
      FROM m
    ),
    base AS (
      SELECT doc_id, page,
             'T' || hex8 || chr(10) || 'Doc ' || CAST(doc_id AS VARCHAR)
             || CASE WHEN collapsed <> ''
                     THEN chr(10) || collapsed ELSE '' END AS extracted
      FROM pg
    )
    SELECT doc_id AS media_id,
           CAST(octet_length(CAST(page AS BLOB)) AS BIGINT) AS content_length,
           CAST(length(extracted)
                - length(replace(extracted, chr(10), '')) + 1 AS BIGINT)
             AS n_lines,
           CAST(length(extracted) AS BIGINT) AS n_chars,
           md5(extracted) AS text_md5
    FROM base
    """,
)
def q_crawl_ingest_e2e_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END crawl ingest — the composition the round-10 containers
    were built for: each document becomes a realistic HTML page (title,
    script/style noise, escaped body), wrapped as the response record of
    a member-gzipped WARC/1.0 file; then ONE fused Arrow stage
    (`operators/html_text.warc_html_extract`) demuxes the WARC, filters
    to response records, strips the HTML, and emits extraction stats —
    gzip member walk → Content-Length block slice → entity-decoding
    parse → whitespace contract, all of which the oracle recomputes from
    SQL alone (page bytes re-assembled for the octet length; extracted
    text re-derived and hashed). Map-only: raw page bytes never cross a
    stage boundary."""
    from azure_medicine_data_engineering_spark.operators.html_text import (
        warc_html_extract,
    )
    from azure_medicine_data_engineering_spark.sources.warc import (
        attach_warc_payload,
    )

    docs = _t(spark, sf_dir, "documents")
    esc = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), "&", "&amp;"), "<", "&lt;"
        ),
        ">",
        "&gt;",
    )
    page = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>T"),
        F.substring(F.md5(F.col("text")), 1, 8),
        F.lit(
            '</title><script type="text/javascript">var p = "<p>NOISE</p>";'
            "</script><style>p { color: red }</style></head><body><h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        esc,
        F.lit("</p><!-- crawler comment --></body></html>"),
    )
    paged = docs.select("doc_id", page.alias("page"))
    media = attach_warc_payload(paged, "doc_id", "page", gzip_members=True)
    return warc_html_extract(media)


def _url_canon_oracle() -> str:
    from azure_medicine_data_engineering_spark.operators.urls import (
        TRACKING_PARAM_RE,
        canonicalize_url_sql,
    )

    return f"""
    WITH m AS (
      SELECT doc_id, md5(text) AS hex FROM documents
    ),
    b AS (
      SELECT doc_id, hex,
             CAST(('0x' || substr(hex, 1, 2)) AS INT) AS b0,
             CAST(('0x' || substr(hex, 3, 2)) AS INT) AS b1,
             CAST(('0x' || substr(hex, 5, 2)) AS INT) AS b2,
             CAST(('0x' || substr(hex, 7, 2)) AS INT) AS b3
      FROM m
    ),
    u AS (
      SELECT doc_id,
             (CASE WHEN b1 % 2 = 0 THEN 'HtTp' ELSE 'hTTpS' END)
             || '://WwW.SiTe' || CAST(b0 % 4 AS VARCHAR) || '.OrG'
             || (CASE WHEN b2 % 3 = 0 THEN
                   (CASE WHEN b1 % 2 = 0 THEN ':80' ELSE ':443' END)
                 WHEN b2 % 3 = 1 THEN ':8080' ELSE '' END)
             || '/Dir/' || substr(hex, 9, 6)
             || (CASE WHEN b3 % 2 = 0 THEN '/' ELSE '' END)
             || '?b=2&utm_source=news&a=' || CAST(b0 % 10 AS VARCHAR)
             || '&fbclid=xyz'
             || (CASE WHEN b3 % 3 = 0 THEN '&ref=home' ELSE '' END)
             || (CASE WHEN b1 % 3 = 0 THEN '#sec' ELSE '' END) AS url
      FROM b
    )
    SELECT doc_id, url,
           {canonicalize_url_sql('url')} AS canon_url,
           len(list_filter(string_split(regexp_extract(url, '\\?([^#]*)', 1),
               '&'), p -> regexp_matches(p, '{TRACKING_PARAM_RE}'))) > 0
             AS had_tracking,
           contains(url, '#') AS had_fragment
    FROM u
    """


@register("url_canonicalize_docs", _url_canon_oracle())
def q_url_canonicalize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization — the normalization before exact-URL dedup in
    a crawl pipeline (`operators/urls.py`): messy md5-driven fixture URLs
    (mixed-case scheme/host, default AND real ports, trailing slashes,
    utm_/fbclid/ref tracking params out of order, fragments) canonicalized
    by PURE JVM column expressions (regexp_extract + higher-order array
    filter/sort — no Python UDF; the stage runs at scan throughput and
    whole-stage codegen applies). The oracle constructs the SAME URLs from
    the md5 hex and applies the DuckDB mirror of the contract — scheme/
    host lowering, default-port stripping, tracking-param drop, bytewise
    param sort, trailing-slash and fragment removal must all agree
    string-for-string."""
    from azure_medicine_data_engineering_spark.operators.urls import (
        canonicalize_url,
        url_flags,
    )

    docs = _t(spark, sf_dir, "documents")
    hexc = F.md5(F.col("text"))
    b0 = F.conv(F.substring(hexc, 1, 2), 16, 10).cast("int")
    b1 = F.conv(F.substring(hexc, 3, 2), 16, 10).cast("int")
    b2 = F.conv(F.substring(hexc, 5, 2), 16, 10).cast("int")
    b3 = F.conv(F.substring(hexc, 7, 2), 16, 10).cast("int")
    url = F.concat(
        F.when(b1 % 2 == 0, F.lit("HtTp")).otherwise(F.lit("hTTpS")),
        F.lit("://WwW.SiTe"),
        (b0 % 4).cast("string"),
        F.lit(".OrG"),
        F.when(
            b2 % 3 == 0,
            F.when(b1 % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        )
        .when(b2 % 3 == 1, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/Dir/"),
        F.substring(hexc, 9, 6),
        F.when(b3 % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?b=2&utm_source=news&a="),
        (b0 % 10).cast("string"),
        F.lit("&fbclid=xyz"),
        F.when(b3 % 3 == 0, F.lit("&ref=home")).otherwise(F.lit("")),
        F.when(b1 % 3 == 0, F.lit("#sec")).otherwise(F.lit("")),
    )
    src = docs.select("doc_id", url.alias("url"))
    ht, hf = url_flags(F.col("url"))
    return src.select(
        "doc_id",
        "url",
        canonicalize_url(F.col("url")).alias("canon_url"),
        ht.alias("had_tracking"),
        hf.alias("had_fragment"),
    )


@register(
    "streaming_static_enrich",
    """
    SELECT c.c_mktsegment, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS DOUBLE) / 100,
                 4) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from azure_medicine_data_engineering_spark.streaming.windows import (
        streaming_static_enrich,
    )

    return streaming_static_enrich(spark, sf_dir)


@register("streaming_interval_join", _O["interval_join_click_purchase_counts"])
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from azure_medicine_data_engineering_spark.streaming.windows import (
        streaming_interval_join_counts,
    )

    return streaming_interval_join_counts(spark, sf_dir)


@register("streaming_sliding_1h_30m", _O["events_sliding_1h_30m"])
def q_streaming_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    from azure_medicine_data_engineering_spark.streaming.windows import (
        streaming_sliding_1h_30m,
    )

    return streaming_sliding_1h_30m(spark, sf_dir)


@register(
    "grouped_zscore_normalize",
    """
    WITH stats AS (
      SELECT event_type, avg(value) AS m, stddev_pop(value) AS sd
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type,
           CASE WHEN s.sd = 0 THEN NULL
                ELSE ROUND(CAST((e.value - s.m) / s.sd AS DOUBLE), 4) END AS z
    FROM events e JOIN stats s ON e.event_type = s.event_type
    """,
)
def q_grouped_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas as a TRANSFORM (U4 family): per-event-type
    z-score normalization computed inside each pandas group. The oracle is
    the window/join formulation — numpy and SQL agree on the double math.

    Scale note: the built-in window/join form is preferred in production
    (codegen, no Python); this query exists to verify the Arrow grouped-map
    path end-to-end."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("event_type", StringType()),
            StructField("z", DoubleType()),
        ]
    )

    def normalize(pdf):
        import numpy as np
        import pandas as pd

        v = pdf["value"].to_numpy("float64")
        m = v.mean()
        sd = float(np.sqrt(((v - m) ** 2).mean()))
        if sd == 0.0:  # constant group: z undefined, NULL on both sides
            z = pd.Series([None] * len(pdf), dtype="float64")
        else:
            raw = (pdf["value"] - m) / sd
            # half-away-from-zero to match SQL ROUND (np .round is half-even)
            z = np.sign(raw) * np.floor(np.abs(raw) * 10**4 + 0.5) / 10**4
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "event_type": pdf["event_type"],
                "z": z,
            }
        )

    ev = events_table(spark, sf_dir).select("event_id", "event_type", "value")
    return ev.groupBy("event_type").applyInPandas(normalize, schema)


_PAIRED_ORACLE = """
    WITH sums AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'click'
                 THEN CAST(ROUND(value * 100) AS BIGINT) END) AS ca,
             COUNT(CASE WHEN event_type = 'click' THEN value END) AS na,
             SUM(CASE WHEN event_type = 'purchase'
                 THEN CAST(ROUND(value * 100) AS BIGINT) END) AS cp,
             COUNT(CASE WHEN event_type = 'purchase' THEN value END) AS np
      FROM events GROUP BY user_id
    ),
    per_user AS (
      SELECT user_id,
             (2 * CAST(ca AS BIGINT) * 10000 + na) // (2 * na) AS mc_u,
             (2 * CAST(cp AS BIGINT) * 10000 + np) // (2 * np) AS mp_u
      FROM sums WHERE ca IS NOT NULL AND cp IS NOT NULL
    )
    SELECT 'click_vs_purchase' AS hypothesis,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(mc_u - mp_u) AS DOUBLE) / 1000000, 4) AS diff_sum,
           TRUE AS p_valid
    FROM per_user
    """


@register("paired_permutation_click_vs_purchase", _PAIRED_ORACLE)
def q_paired_permutation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 paired variant (two-time-point parity: same subject measured
    twice): per-user mean click value vs mean purchase value, sign-flip
    permutation test on the per-user differences.

    Oracle contract mirrors ``permutation_tests_by_event_type``: pair count
    and the sum of per-user differences are exact SQL. The per-user means
    are INTEGER-DIVISION micro-means on the 1e-6 grid — half-up
    ``(2·cents·10000 + n) div (2·n)`` over positive cents sums (the
    CLAUDE.md integer-division-means rule: a double divide-then-round hits
    .00005 ties at corpus scale, and a cross-user SUM of double means is a
    running-sum drift hazard) — so the pair-sum is a pure BIGINT on the
    1e-6 grid, divided once at the end. The seeded p-value exports its
    estimator invariants as ``p_valid``; exact p-values pinned in
    tests/test_stats.py."""
    from azure_medicine_data_engineering_spark.functions.stats import (
        paired_permutation_test_grouped,
    )

    n_perm = 300
    ev = events_table(spark, sf_dir)

    def _cents(event_type: str):
        return F.sum(
            F.when(
                F.col("event_type") == event_type,
                F.round(F.col("value") * 100).cast("long"),
            )
        )

    def _cnt(event_type: str):
        return F.count(F.when(F.col("event_type") == event_type, F.col("value")))

    sums = ev.groupBy("user_id").agg(
        _cents("click").alias("ca"),
        _cnt("click").alias("na"),
        _cents("purchase").alias("cp"),
        _cnt("purchase").alias("np"),
    )
    per_user = sums.where(
        F.col("ca").isNotNull() & F.col("cp").isNotNull()
    ).select(
        "user_id",
        F.expr("(2 * ca * 10000 + na) div (2 * na)").alias("mc_u"),
        F.expr("(2 * cp * 10000 + np) div (2 * np)").alias("mp_u"),
    )
    res = paired_permutation_test_grouped(
        per_user.select(
            F.lit("click_vs_purchase").alias("hyp"),
            (F.col("mc_u").cast("double") / 1e6).alias("click_v"),
            (F.col("mp_u").cast("double") / 1e6).alias("purchase_v"),
        ),
        "hyp", "click_v", "purchase_v", n_permutations=n_perm, seed=5,
    )
    diff_sum = per_user.agg(
        F.round(
            F.sum(F.col("mc_u") - F.col("mp_u")).cast("double") / 1000000, 4
        ).alias("diff_sum")
    )
    scaled = F.col("p_value") * (n_perm + 1)
    p_valid = (
        (F.col("p_value") >= 1.0 / (n_perm + 1))
        & (F.col("p_value") <= 1.0)
        & (F.abs(scaled - F.round(scaled, 0)) < 1e-6)
    )
    return (
        res.select("hypothesis", "n_pairs", p_valid.alias("p_valid"))
        .crossJoin(diff_sum)
        .select("hypothesis", "n_pairs", "diff_sum", "p_valid")
    )


@register(
    "streaming_foreachbatch_upsert",
    """
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100,
                 4) AS total_value
    FROM events GROUP BY user_id
    """,
)
def q_streaming_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental keyed materialization (streaming/sinks.py): update-mode
    aggregation + foreachBatch upsert into a versioned state table, read
    back after the bounded stream drains. The oracle is the batch groupBy
    the incremental path must reproduce exactly."""
    from azure_medicine_data_engineering_spark.streaming.sinks import (
        streaming_upsert_user_totals,
    )

    return streaming_upsert_user_totals(spark, sf_dir)


_PERMANOVA_ORACLE = """
    WITH samp AS (
      SELECT event_type, user_id, (user_id % 2 = 0) AS grp,
             list_sort(list_distinct(list(EXTRACT(hour FROM ts)))) AS hrs
      FROM events WHERE user_id < 40
      GROUP BY event_type, user_id
    ),
    pairs AS (
      SELECT a.event_type, a.grp AS ga, b.grp AS gb,
             CAST(ROUND(
               (1.0 - CAST(len(list_intersect(a.hrs, b.hrs)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.hrs, b.hrs))))
             * (1.0 - CAST(len(list_intersect(a.hrs, b.hrs)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.hrs, b.hrs))))
             * 100000000) AS BIGINT) AS du
      FROM samp a JOIN samp b
        ON a.event_type = b.event_type AND a.user_id < b.user_id
    ),
    sums AS (
      SELECT event_type,
             CAST(SUM(du) AS BIGINT) AS t_u,
             CAST(SUM(CASE WHEN ga AND gb THEN du ELSE 0 END) AS BIGINT) AS w_a_u,
             CAST(SUM(CASE WHEN NOT ga AND NOT gb THEN du ELSE 0 END) AS BIGINT) AS w_b_u
      FROM pairs GROUP BY event_type
    ),
    counts AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN grp THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN NOT grp THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM samp GROUP BY event_type
    )
    SELECT s.event_type AS hypothesis, c.n, c.n_a, c.n_b,
           s.t_u, s.w_a_u, s.w_b_u,
           ROUND(CAST(
             ((s.t_u / 100000000.0) / c.n
               - ((s.w_a_u / 100000000.0) / c.n_a + (s.w_b_u / 100000000.0) / c.n_b))
             / (((s.w_a_u / 100000000.0) / c.n_a + (s.w_b_u / 100000000.0) / c.n_b)
                / (c.n - 2))
           AS DOUBLE), 4) AS pseudo_f,
           TRUE AS p_valid
    FROM sums s JOIN counts c USING (event_type)
    """


@register("permanova_hourly_profile", _PERMANOVA_ORACLE)
def q_permanova_hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R3: PERMANOVA per event type via applyInPandas fan-out
    (functions/stats.py:permanova_grouped; parity ``myPermanova``,
    ``Hypothesis testing R.r:375-388``): samples are a bounded 40-user
    panel, each carrying its set of distinct active hours for that event
    type; Jaccard distance (the reference's ``vegdist``), factor =
    even/odd user id. Tests whether the two user cohorts have different
    hourly activity profiles.

    Oracle contract: the integer-grid d^2 sums (t_u, w_a_u, w_b_u), panel
    sizes, and the observed pseudo-F (a fixed IEEE op sequence over those
    integers, rounded to 4) are exact SQL; the seeded permutation p
    exports estimator invariants as ``p_valid`` (exact p pinned in
    tests/test_stats.py). PERMANOVA is O(n^2) in panel size — the panel is
    the statistical design, the hypothesis fan-out is the scale axis."""
    from azure_medicine_data_engineering_spark.functions.stats import (
        permanova_grouped,
    )

    n_perm = 199
    samp = (
        events_table(spark, sf_dir)
        .where(F.col("user_id") < 40)
        .groupBy("event_type", "user_id")
        .agg(F.collect_set(F.hour("ts")).alias("hrs"))
        .withColumn("grp", F.col("user_id") % 2 == 0)
    )
    res = permanova_grouped(
        samp, "event_type", "user_id", "hrs", "grp",
        n_permutations=n_perm, seed=42,
    )
    scaled = F.col("p_value") * (n_perm + 1)
    p_valid = (
        (F.col("p_value") >= 1.0 / (n_perm + 1))
        & (F.col("p_value") <= 1.0)
        & (F.abs(scaled - F.round(scaled, 0)) < 1e-6)
    )
    return res.select(
        "hypothesis", "n", "n_a", "n_b", "t_u", "w_a_u", "w_b_u",
        F.round(F.col("pseudo_f"), 4).alias("pseudo_f"),
        p_valid.alias("p_valid"),
    )


@register(
    "streaming_corpus_dedup",
    """
    WITH fp_new AS (
      SELECT DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      FROM documents WHERE doc_id % 5 <> 0
    ),
    fp_hist AS (
      SELECT DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
      FROM documents WHERE doc_id % 5 = 0
    )
    SELECT CAST((SELECT COUNT(*) FROM fp_new) AS BIGINT) AS n_stream_unique,
           CAST((SELECT COUNT(*) FROM fp_new WHERE fp NOT IN (SELECT fp FROM fp_hist))
                AS BIGINT) AS n_truly_new,
           CAST((SELECT COUNT(*) FROM fp_new WHERE fp IN (SELECT fp FROM fp_hist))
                AS BIGINT) AS n_known
    """,
)
def q_streaming_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup (streaming/windows.py:
    streaming_corpus_dedup_counts): fingerprint self-dedup as bounded
    streaming state + stream-vs-history anti/semi split. The oracle
    recomputes the fingerprint sets as batch DISTINCT/IN queries."""
    from azure_medicine_data_engineering_spark.streaming.windows import (
        streaming_corpus_dedup_counts,
    )

    return streaming_corpus_dedup_counts(spark, sf_dir)


@register(
    "multimodal_image_quality_flags",
    """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
    d AS (
      SELECT doc_id, hex,
             4 + CAST(('0x' || substr(hex, 1, 2)) AS INT) % 13 AS width,
             4 + CAST(('0x' || substr(hex, 3, 2)) AS INT) % 11 AS height
      FROM m
    ),
    px AS (
      SELECT doc_id, width, height,
             list_transform(range(width * height),
                 i -> CAST(('0x' || substr(hex, (i % 16) * 2 + 1, 2)) AS BIGINT)) AS p
      FROM d
    ),
    sums AS (
      SELECT doc_id, width, height,
             CAST(width * height AS BIGINT) AS n,
             list_sum(p) AS s,
             list_sum(list_transform(p, x -> x * x)) AS q,
             list_min(p) AS mn, list_max(p) AS mx
      FROM px
    )
    SELECT doc_id AS media_id,
           CAST(width AS INT) AS width, CAST(height AS INT) AS height,
           CAST(mn AS INT) AS px_min, CAST(mx AS INT) AS px_max,
           CAST(mx - mn AS INT) AS dynamic_range,
           n * q - s * s = 0 AS is_blank,
           n * q - s * s < 64 * n * n AS is_low_contrast
    FROM sums
    """,
)
def q_multimodal_image_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vision-corpus quality gate (operators/multimodal.py:
    image_quality_flags): every PNG payload decoded and flagged for
    blank / low-contrast frames via integer variance inequalities; the
    oracle regenerates each image's tiled pixels from md5(text) and
    recomputes the same integer sums — decode, geometry, and flags all
    must agree."""
    from azure_medicine_data_engineering_spark.operators.multimodal import (
        attach_png_payload,
        image_quality_flags,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_png_payload(docs, "doc_id", "text")
    return image_quality_flags(media)


@register(
    "multimodal_audio_quality_flags",
    """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
    d AS (
      SELECT doc_id, hex,
             32 + CAST(('0x' || substr(hex, 1, 2)) AS INT) % 97 AS n
      FROM m
    ),
    s AS (
      SELECT doc_id, n,
             list_transform(range(n),
               i -> abs((CAST(('0x' || substr(hex, (i % 16) * 2 + 1, 2)) AS INT) - 128) * 231))
               AS amps
      FROM d
    ),
    agg AS (
      SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
             CAST(list_max(amps) AS BIGINT) AS peak,
             CAST(len(list_filter(amps, a -> a >= 29000)) AS BIGINT) AS n_clipped
      FROM s
    )
    SELECT doc_id AS media_id, n_samples, peak,
           peak < 1000 AS is_silent,
           n_clipped,
           (n_clipped * 1000000 // n_samples) / 1e6 AS clip_frac
    FROM agg
    """,
)
def q_multimodal_audio_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speech-corpus quality gate (operators/media_av.py:
    audio_quality_flags): every WAV payload decoded to samples, flagged
    for silence (integer peak test) with hard-clip exposure in micro
    units; the oracle regenerates the PCM16 samples from md5(text) and
    recomputes identical integer metrics."""
    from azure_medicine_data_engineering_spark.operators.media_av import (
        attach_wav_payload,
        audio_quality_flags,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_wav_payload(docs, "doc_id", "text")
    return audio_quality_flags(media)


@register(
    "multimodal_video_motion",
    """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
    d AS (
      SELECT doc_id, hex,
             2 + CAST(('0x' || substr(hex, 1, 2)) AS INT) % 7 AS w,
             2 + CAST(('0x' || substr(hex, 3, 2)) AS INT) % 5 AS h,
             4 + CAST(('0x' || substr(hex, 5, 2)) AS INT) % 9 AS nf
      FROM m
    ),
    motion AS (
      SELECT doc_id, nf, w, h,
             CAST(list_sum(list_transform(range((nf - 1) * w * h),
               k -> abs(CAST(('0x' || substr(hex, (((k // (w * h)) + (k % (w * h))) % 16) * 2 + 1, 2)) AS BIGINT)
                      - CAST(('0x' || substr(hex, (((k // (w * h)) + 1 + (k % (w * h))) % 16) * 2 + 1, 2)) AS BIGINT))))
               AS BIGINT) AS motion_sum
      FROM d
    )
    SELECT doc_id AS media_id,
           CAST(nf AS INT) AS n_frames, CAST(w AS INT) AS width,
           CAST(h AS INT) AS height, motion_sum,
           (motion_sum * 1000 // ((nf - 1) * w * h)) / 1e3 AS mean_motion,
           motion_sum * 1000 // ((nf - 1) * w * h) <= 0 AS is_static
    FROM motion
    """,
)
def q_multimodal_video_motion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video static-content detector (operators/media_av.py:
    video_motion_report): VID0 clips demuxed and scored by exact integer
    inter-frame |pixel delta| sums; the oracle regenerates every frame
    pair's sliding-tile pixels from md5(text) and recomputes the same
    motion integers."""
    from azure_medicine_data_engineering_spark.operators.media_av import (
        attach_video_payload,
        video_motion_report,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_video_payload(docs, "doc_id", "text")
    return video_motion_report(media)


@register(
    "ml_kfold_assignment_orders",
    """
    WITH b AS (
      SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4)) AS BIGINT)
             % 5 AS fold,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    )
    SELECT CAST(fold AS BIGINT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           (CAST(SUM(y) AS BIGINT) * 1000000 // COUNT(*)) / 1e6 AS pos_rate
    FROM b GROUP BY 1
    """,
)
def q_ml_kfold_assignment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment (the M4/M7
    companion): fold = md5-bucket % 5 of the row id — reproducible on any
    cluster layout or engine, unlike randomSplit — with per-fold sizes
    and label balance (integer micro rate) as the sanity report a CV run
    records before training. The md5 device is the same engine-replicable
    split as ``hash_split``; the oracle recomputes every assignment."""
    o = _t(spark, sf_dir, "orders")
    fold = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 4), 16, 10)
        .cast("long") % 5
    )
    return (
        o.select(
            fold.alias("fold"),
            (F.col("o_orderstatus") == "F").cast("long").alias("y"),
        )
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("y").cast("long").alias("n_pos"),
        )
        .select(
            "fold",
            "n_rows",
            "n_pos",
            (F.expr("n_pos * 1000000 div n_rows") / 1e6).alias("pos_rate"),
        )
    )


@register(
    "prefixspan_event_patterns",
    """
    WITH peru AS (SELECT user_id, event_type AS e, ts FROM events),
    tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM peru),
    ut AS (
      SELECT user_id, e, MIN(ts) AS mn, MAX(ts) AS mx FROM peru GROUP BY 1, 2
    ),
    singles AS (
      SELECT e AS pattern, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS freq
      FROM peru GROUP BY e
    ),
    seqp AS (
      SELECT a.e || '>' || b.e AS pattern, CAST(COUNT(*) AS BIGINT) AS freq
      FROM ut a JOIN ut b ON a.user_id = b.user_id
      WHERE a.mn < b.mx
      GROUP BY 1
    ),
    conc AS (
      SELECT a.e || '+' || b.e AS pattern,
             CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS freq
      FROM peru a JOIN peru b
        ON a.user_id = b.user_id AND a.ts = b.ts AND a.e < b.e
      GROUP BY 1
    ),
    allp AS (
      SELECT * FROM singles UNION ALL SELECT * FROM seqp
      UNION ALL SELECT * FROM conc
    )
    SELECT pattern, freq FROM allp, tot
    WHERE freq >= CEIL(0.3 * tot.n)
    """,
)
def q_prefixspan_event_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential pattern mining (``functions/mining.py:
    sequential_patterns``; Spark ML PrefixSpan, Pei et al. 2001): the
    ORDER-aware sibling of the FPGrowth baskets — 'a>b' is supported by a
    user iff some a STRICTLY precedes some b (ts-grouped itemsets pin the
    semantics under same-ts ties). The oracle brute-forces every
    candidate up to 2 items — singles, sequential pairs via the
    min(ts_a) < max(ts_b) existence identity (never an events² join),
    and same-ts concurrent itemsets — at minSupport 0.3."""
    from azure_medicine_data_engineering_spark.functions.mining import (
        sequential_patterns,
    )

    return sequential_patterns(
        events_table(spark, sf_dir), min_support=0.3, max_pattern_length=2
    )


# ---------------------------------------------------------------------------
# ALS recommender surface: planted block-structured interactions.
# ---------------------------------------------------------------------------

#: Robust invariant oracle (both ALS surface queries): the trained
#: model's top-1 must land in the user's own planted block. The STRICT
#: designated-item equality (top_item == (u%4)*5 + u%5) holds under the
#: fixed seed but is not analytically guaranteed against factorization
#: jitter (Spark ML version / initializer changes), so it lives in
#: pytest (tests/test_multimodal_ml.py) — the oracled surface hashes
#: only the block-membership invariant, which the planted margin makes
#: structural.
_ALS_BLOCK_ORACLE = """
    WITH u AS (
      SELECT DISTINCT CAST(user_id % 50 AS INTEGER) AS user_bucket FROM events
    )
    SELECT user_bucket, TRUE AS in_block
    FROM u
    """


@register("als_block_recommender_events", _ALS_BLOCK_ORACLE)
def q_als_block_recommender_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS recommender surface query (``ml/pipeline.py:
    train_als_recommender``), following the ``ml_quality_classifier_docs``
    precedent: plant an interaction matrix whose top-1 recommendation per
    user is ANALYTICALLY determined, so the float factorization's ranking
    lands in the oracle ledger while the factors themselves stay behind
    the pytest ranking gate.

    Planting: 50 pseudo-users (the distinct ``user_id % 50`` universe
    from the event log) over 20 items in 4 disjoint blocks of 5 — user u
    rates exactly its block ``u % 4`` (items ``(u%4)*5 .. (u%4)*5+4``),
    rating 5.0 on its DESIGNATED slot ``u % 5`` and 1.0 on the other
    four; cross-block cells are unobserved. EXPLICIT ALS reconstructs
    the rating values, so the 5-vs-1 margin makes the designated item
    the top-1 recommendation analytically (implicit ALS flattens
    EQUAL-preference cells into exact ties — measured: only 12/50
    designated hits on this grid — hence ``implicit_prefs=False`` here;
    ``als_implicit_block_recommender_events`` plants the
    polarity-carrying design where the implicit mode IS decisive). The
    oracled surface hashes the block-membership invariant
    (``in_block = TRUE``); the strict designated-item arithmetic
    ``top_item = (u%4)*5 + (u%5)`` is pytest-gated.

    Scale: the ratings frame is ONE distinct-key aggregation of the
    event log exploded by 5 literal slots (bounded: users × 5 cells);
    ALS itself is Spark ML's block-partitioned alternating least
    squares, and ``recommendForAllUsers(1)`` is vocabulary-bounded —
    nothing here is driver-side except the planted modulus arithmetic."""
    from azure_medicine_data_engineering_spark.ml.pipeline import (
        train_als_recommender,
    )

    ev = events_table(spark, sf_dir)
    users = ev.select((F.col("user_id") % 50).cast("int").alias("u")).distinct()
    ratings = (
        users.select(
            "u", F.explode(F.array(*[F.lit(s) for s in range(5)])).alias("slot")
        )
        .select(
            F.col("u").alias("user_bucket"),
            ((F.col("u") % 4) * 5 + F.col("slot")).cast("int").alias("item_id"),
            F.when(F.col("slot") == F.col("u") % 5, F.lit(5.0))
            .otherwise(F.lit(1.0))
            .cast("float")
            .alias("strength"),
        )
        .persist()
    )
    model = train_als_recommender(
        ratings,
        user_col="user_bucket",
        item_col="item_id",
        rating_col="strength",
        rank=16,
        max_iter=10,
        implicit_prefs=False,
    )
    recs = model.recommendForAllUsers(1).select(
        F.col("user_bucket").cast("int").alias("user_bucket"),
        F.col("recommendations")[0]["item_id"].cast("int").alias("top_item"),
    )
    out = recs.select(
        "user_bucket",
        # block membership — the margin-robust invariant the oracle
        # hashes; the strict designated-item equality is pytest-gated
        # (tests/test_multimodal_ml.py::test_als_explicit_designated_top1)
        F.expr("top_item div 5 = user_bucket % 4").alias("in_block"),
    )
    out._stage_caches = [ratings]
    return out


@register("als_implicit_block_recommender_events", _ALS_BLOCK_ORACLE)
def q_als_implicit_block_recommender_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IMPLICIT-feedback ALS surface query — the reference's default mode
    (``ml/pipeline.py:train_als_recommender`` defaults to
    ``implicit_prefs=True``, Hu/Koren/Volinsky 2008) restored to the
    oracle ledger with a planting where the implicit semantics are
    DECISIVE.

    Planting: the same 50-user / 4-block / 5-slot grid as the explicit
    query, but with interaction COUNTS carrying engagement polarity:
    the designated slot gets r = +40 (heavy engagement → p = 1 with
    confidence c = 1 + α·40), the other four block slots r = −1
    (viewed-but-not-engaged → p = 0 with c = 1 + α·1, the paper's
    browsed-not-bought negative signal), cross-block unobserved
    (p = 0, c = 1). Free-sign factors (``nonnegative=False``) are
    required to represent the suppression direction. Measured margins:
    top-1 = the designated item for 50/50 users at every probed seed
    (42/7/123/999/2024) with min top prediction 0.985; the
    uniform-count contrast (r = +1 designated) still ranks correctly
    but with a 0.69 margin — the confidence weighting is what makes
    the margin structural. The r6/r7 observation that EQUAL-preference
    plantings recover only 12/50 under implicit mode (confidence
    flattens same-p cells into exact ties) is kept in the explicit
    query's docstring as the documented contrast.

    The oracled surface hashes the block-membership invariant only
    (see _ALS_BLOCK_ORACLE note); strict designated equality is
    pytest-gated (test_als_implicit_designated_top1)."""
    from azure_medicine_data_engineering_spark.ml.pipeline import (
        train_als_recommender,
    )

    ev = events_table(spark, sf_dir)
    users = ev.select((F.col("user_id") % 50).cast("int").alias("u")).distinct()
    ratings = (
        users.select(
            "u", F.explode(F.array(*[F.lit(s) for s in range(5)])).alias("slot")
        )
        .select(
            F.col("u").alias("user_bucket"),
            ((F.col("u") % 4) * 5 + F.col("slot")).cast("int").alias("item_id"),
            F.when(F.col("slot") == F.col("u") % 5, F.lit(40.0))
            .otherwise(F.lit(-1.0))
            .cast("float")
            .alias("strength"),
        )
        .persist()
    )
    model = train_als_recommender(
        ratings,
        user_col="user_bucket",
        item_col="item_id",
        rating_col="strength",
        rank=16,
        max_iter=10,
        implicit_prefs=True,
        nonnegative=False,
    )
    recs = model.recommendForAllUsers(1).select(
        F.col("user_bucket").cast("int").alias("user_bucket"),
        F.col("recommendations")[0]["item_id"].cast("int").alias("top_item"),
    )
    out = recs.select(
        "user_bucket",
        F.expr("top_item div 5 = user_bucket % 4").alias("in_block"),
    )
    out._stage_caches = [ratings]
    return out


@register(
    "multimodal_decode_png_interlaced",
    """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
    d AS (
      SELECT doc_id, hex,
             4 + CAST(('0x' || substr(hex, 1, 2)) AS INT) % 13 AS width,
             4 + CAST(('0x' || substr(hex, 3, 2)) AS INT) % 11 AS height
      FROM m
    )
    SELECT doc_id AS media_id,
           'image' AS media_type,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           ROUND(CAST(list_sum(list_transform(range(width * height),
                 i -> CAST(('0x' || substr(hex, (i % 16) * 2 + 1, 2)) AS INT)))
                 / (width * height * 255.0) AS DOUBLE), 4) AS mean_intensity
    FROM d
    """,
)
def q_multimodal_decode_png_interlaced(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Adam7 INTERLACED PNG path — round 10's PNG analogue of the
    progressive-JPEG closure: the same md5-driven grayscale fixtures as
    ``multimodal_decode_png``, serialized as spec-valid seven-pass Adam7
    streams and decoded by the per-pass defilter + scatter
    (`multimodal.png_decode_pixels`). PNG is lossless, so the SAME oracle
    recomputes dimensions and pixel means from the md5 hex — the pass
    geometry (offsets/strides/sub-image dims), per-pass filter
    continuity, and the scatter must all be exact to hash-match.
    Map-only Arrow plan."""
    from azure_medicine_data_engineering_spark.operators.multimodal import (
        attach_png_payload,
        decode_media,
        real_decode,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_png_payload(docs, "doc_id", "text", interlace=True)
    return decode_media(media, decode_fn=real_decode).select(
        "media_id", "media_type", "width", "height", "mean_intensity"
    )


@register(
    "multimodal_decode_gif",
    """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
    d AS (
      SELECT doc_id, hex,
             4 + CAST(('0x' || substr(hex, 1, 2)) AS INT) % 13 AS width,
             4 + CAST(('0x' || substr(hex, 3, 2)) AS INT) % 11 AS height
      FROM m
    )
    SELECT doc_id AS media_id,
           'image' AS media_type,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           ROUND(CAST(list_sum(list_transform(range(width * height),
                 i -> CAST(('0x' || substr(hex, (i % 16) * 2 + 1, 2)) AS INT)))
                 / (width * height * 255.0) AS DOUBLE), 4) AS mean_intensity
    FROM d
    """,
)
def q_multimodal_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF path — the THIRD real web-image codec (round 10, beside PNG and
    baseline+progressive JPEG): md5-driven grayscale-palette GIF89a
    fixtures (HALF the corpus interlaced, keyed on a digest bit) decoded
    by the pure-stdlib LZW decoder (`operators/gif.py` — variable code
    width with the early-change boundary rule, dictionary growth to the
    12-bit cap, CLEAR/EOI, 4-pass de-interlace, palette resolution)
    inside Arrow mapInPandas. GIF is lossless and the palette is
    grayscale (i → (i,i,i)), so the SAME md5-hex oracle as PNG recomputes
    dimensions and pixel means — the LZW bit walk, sub-block chaining,
    AND both row orders must be exact to hash-match. Map-only."""
    from azure_medicine_data_engineering_spark.operators.multimodal import (
        attach_gif_payload,
        decode_media,
        real_decode,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_gif_payload(docs, "doc_id", "text")
    return decode_media(media, decode_fn=real_decode).select(
        "media_id", "media_type", "width", "height", "mean_intensity"
    )


@register(
    "wds_shard_ingest_docs",
    """
    WITH m AS (
      SELECT doc_id, text, md5(text) AS hex FROM documents
    ),
    base AS (
      SELECT doc_id, text,
             lpad(CAST(doc_id AS VARCHAR), 9, '0') AS key_,
             CAST(CAST(('0x' || substr(hex, 1, 2)) AS INT) % 10 AS VARCHAR)
               AS cls
      FROM m
    )
    SELECT doc_id AS media_id, CAST(0 AS INT) AS member_idx,
           key_ AS sample_key, 'txt' AS ext,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS size,
           md5(text) AS content_md5
    FROM base
    UNION ALL
    SELECT doc_id, CAST(1 AS INT), key_, 'cls',
           CAST(1 AS BIGINT), md5(cls)
    FROM base
    """,
)
def q_wds_shard_ingest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset tar-shard ingest (`sources/webdataset.py`) — the
    de-facto multimodal TRAINING-shard container, completing the ingest
    pair with WARC (crawl in, curated shards out/in): each document
    becomes a deterministic one-sample ustar shard (``<key>.txt`` +
    ``<key>.cls``), and one Arrow pass explodes shards into per-member
    rows with the WebDataset sample key (basename before the FIRST dot)
    and extension. The oracle recomputes keys (zero-padded ids), sizes
    (UTF-8 octets) and content md5s from SQL — the 512-byte ustar header
    walk and member slicing must be exact to hash-match. Map-only."""
    from azure_medicine_data_engineering_spark.sources.webdataset import (
        attach_wds_shard_payload,
        wds_ingest_members,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_wds_shard_payload(docs, "doc_id", "text")
    return wds_ingest_members(media)


# ---------------------------------------------------------------------------
# Round 13: cross-modal image-text alignment gate (LAION-style curation).
# ---------------------------------------------------------------------------

#: shared finalization expressions (identical strings interpolated into the
#: Spark plan AND the DuckDB oracle — zero float drift; integer state first,
#: one scalar expression last; scientific literals per CLAUDE.md)
# canonical home: sources/webdataset.py (importable without registry
# side effects — the streaming twin's foreachBatch kernel needs them)
from azure_medicine_data_engineering_spark.sources.webdataset import (  # noqa: E402
    ALIGN_COS_EXPR as _ALIGN_COS,
    ALIGN_KEEP_EXPR as _ALIGN_KEEP,
    ALIGN_THRESHOLD as _ALIGN_THRESHOLD,
)


def _align_tower_sql(fp: str, prefix: str) -> str:
    return (
        f"list_transform(range(32), j -> "
        f"(CAST(('0x' || substr(md5({fp} || ':' || j), 1, 8)) AS BIGINT) % 2001 - 1000)"
        f" + (CAST(('0x' || substr(md5('{prefix}:' || {fp} || ':' || j), 1, 8)) AS BIGINT) % 101 - 50))"
    )


@register(
    "image_text_alignment_gate",
    f"""
    WITH m AS (
      SELECT doc_id, source, text, md5(text) AS fpi,
             CAST(('0x' || substr(md5(text), 5, 2)) AS INT) % 4 = 0 AS planted
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, planted, fpi,
             CASE WHEN planted THEN md5('mismatch ' || text) ELSE fpi END AS fpt
      FROM m
    ),
    e AS (
      SELECT doc_id, source, planted,
             {_align_tower_sql('fpi', 'i')} AS ei,
             {_align_tower_sql('fpt', 't')} AS et
      FROM c
    ),
    s AS (
      SELECT source, planted,
             CAST(list_sum(list_transform(range(32), j -> ei[j+1] * et[j+1])) AS BIGINT) AS dot,
             CAST(list_sum(list_transform(ei, x -> x * x)) AS BIGINT) AS na,
             CAST(list_sum(list_transform(et, x -> x * x)) AS BIGINT) AS nb
      FROM e
    ),
    g AS (SELECT source, planted, {_ALIGN_COS} AS cos FROM s),
    agg AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(SUM(CASE WHEN planted THEN 1 ELSE 0 END) AS BIGINT) AS n_planted,
             CAST(SUM(CASE WHEN cos >= {_ALIGN_THRESHOLD} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM g GROUP BY source
    )
    SELECT source, n_samples, n_planted, n_kept, {_ALIGN_KEEP} AS keep_rate
    FROM agg
    """,
)
def q_image_text_alignment_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal image-text alignment curation (round 13 — the
    CLIP-score-shaped gate a LAION-style multimodal pretraining pipeline
    runs): documents become REAL one-sample WebDataset tars (genuine PNG
    + caption member, ~1/4 planted mismatched captions), one Arrow pass
    tar-parses + PNG-decodes each sample and recovers the image content
    fingerprint FROM THE DECODED PIXELS, both modalities embed on a
    shared deterministic integer grid, and the gate keeps samples whose
    exact-integer cosine clears the threshold — reporting per-source
    sample / planted-mismatch / kept counts and the keep rate. The
    oracle replays fingerprints, towers, and the one shared double
    expression from SQL; the kernel's PNG round-trip must be lossless to
    hash-match. Map-only fan-out + one keyed groupBy."""
    from azure_medicine_data_engineering_spark.session import ensure_parallelism
    from azure_medicine_data_engineering_spark.sources.webdataset import (
        attach_wds_image_caption_payload,
        image_text_alignment_stats,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_wds_image_caption_payload(docs, "doc_id", "text")
    stats = image_text_alignment_stats(media)
    meta = docs.select(
        "doc_id",
        "source",
        F.expr("CAST(conv(substr(md5(text), 5, 2), 16, 10) AS INT) % 4 = 0").alias(
            "planted"
        ),
    )
    joined = stats.join(meta, stats.media_id == meta.doc_id).withColumn(
        "cos", F.expr(_ALIGN_COS)
    )
    agg = joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_samples"),
        F.sum(F.col("planted").cast("long")).cast("long").alias("n_planted"),
        F.sum(F.expr(f"CAST(cos >= {_ALIGN_THRESHOLD} AS LONG)"))
        .cast("long")
        .alias("n_kept"),
    )
    return agg.select(
        "source",
        "n_samples",
        "n_planted",
        "n_kept",
        F.expr(_ALIGN_KEEP).alias("keep_rate"),
    )


@register(
    "multimodal_decode_bmp",
    """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
    d AS (
      SELECT doc_id, hex,
             4 + CAST(('0x' || substr(hex, 1, 2)) AS INT) % 13 AS width,
             4 + CAST(('0x' || substr(hex, 3, 2)) AS INT) % 11 AS height
      FROM m
    )
    SELECT doc_id AS media_id,
           'image' AS media_type,
           CAST(width AS INT) AS width,
           CAST(height AS INT) AS height,
           ROUND(CAST(list_sum(list_transform(range(width * height),
                 i -> CAST(('0x' || substr(hex, (i % 16) * 2 + 1, 2)) AS INT)))
                 / (width * height * 255.0) AS DOUBLE), 4) AS mean_intensity
    FROM d
    """,
)
def q_multimodal_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMP path — the uncompressed-DIB container completing the native
    image set (round 10): md5-driven grayscale-palette BMP fixtures
    (bottom-up rows, 4-byte padding) decoded by `operators/bmp.py` inside
    Arrow mapInPandas. Lossless, so the PNG-style md5-hex oracle
    recomputes dimensions and pixel means — the header offsets, palette
    resolution, row order, AND row padding must be exact to hash-match.
    Map-only."""
    from azure_medicine_data_engineering_spark.operators.multimodal import (
        attach_bmp_payload,
        decode_media,
        real_decode,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_bmp_payload(docs, "doc_id", "text")
    return decode_media(media, decode_fn=real_decode).select(
        "media_id", "media_type", "width", "height", "mean_intensity"
    )


@register(
    "pdf_extract_text_docs",
    """
    WITH m AS (
      SELECT doc_id, text,
             (length(text) + 79) // 80 AS n_chunks
      FROM documents
    ),
    base AS (
      SELECT doc_id, n_chunks,
             'Doc ' || CAST(doc_id AS VARCHAR)
             || CASE WHEN n_chunks > 0
                     THEN chr(10) || array_to_string(
                       list_transform(range(1, CAST(n_chunks AS INTEGER) + 1),
                         i -> substr(text, (i - 1) * 80 + 1, 80)),
                       chr(10))
                     ELSE '' END AS extracted
      FROM m
    )
    SELECT doc_id AS media_id,
           CAST((1 + n_chunks + 3) // 4 AS BIGINT) AS n_pages,
           CAST(1 + n_chunks AS BIGINT) AS n_lines,
           CAST(length(extracted) AS BIGINT) AS n_chars,
           md5(extracted) AS text_md5
    FROM base
    """,
)
def q_pdf_extract_text_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF → text extraction — round 11 completes the crawl-ingest trio
    (WARC demux, HTML strip, now the PDF payloads real crawls are full
    of): spec-correct PDFs (catalog → page tree → content streams, classic
    xref with exact offsets, an /Info noise object, FlateDecode on even
    doc ids / raw streams on odd) manufactured deterministically from
    document text (heading line + fixed-width 80-char chunks, 4 lines per
    page), then re-extracted by the stdlib decoder
    (`operators/pdf_text.py` — xref walk, object parser with full string
    escapes, page-tree recursion, zlib inflate, BT/ET + Tj/TJ/Td text
    operators) inside one Arrow mapInPandas pass. The fixture contract
    makes the full expected TEXT SQL-recomputable on the substr grid, so
    the oracle hashes the exact extracted string — the xref offsets,
    stream slicing, escape handling, and line-operator interpretation
    must all be exact to hash-match. Map-only (no shuffle)."""
    from azure_medicine_data_engineering_spark.operators.pdf_text import (
        attach_pdf_payload,
        pdf_extract_stats,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_pdf_payload(docs, "doc_id", "text", 80, 4)
    return pdf_extract_stats(media)


@register(
    "multimodal_decode_flac",
    """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
    d AS (
      SELECT doc_id, hex,
             32 + CAST(('0x' || substr(hex, 1, 2)) AS INT) % 97 AS n
      FROM m
    )
    SELECT doc_id AS media_id,
           'audio' AS media_type,
           CAST(8000 AS INT) AS sample_rate,
           CAST(n AS INT) AS n_samples,
           CAST(n AS DOUBLE) / 8000 AS duration_sec,
           CAST(list_sum(list_transform(range(n),
                i -> abs((CAST(('0x' || substr(hex, (i % 16) * 2 + 1, 2)) AS INT) - 128) * 231)))
                AS DOUBLE) / n AS mean_abs_amplitude
    FROM d
    """,
)
def q_multimodal_decode_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC path — the lossless audio container speech corpora actually
    ship (round 11, `operators/flac.py`): genuine multi-frame FLAC
    streams (STREAMINFO, CRC-8-verified frame headers, Rice-coded
    residuals, subframe type rotating verbatim/fixed-1/fixed-2/LPC-2 by
    doc id, CRC-16-verified frame footers) manufactured from the SAME
    md5-derived PCM as the WAV fixture, then decoded by the pure-stdlib
    bitstream walker inside Arrow mapInPandas. The oracle recomputes the
    sample count and mean |amplitude| from md5(text) — the bit-level
    encode → sync/CRC walk → predictor reconstruction round-trip must be
    LOSSLESS to hash-match (a one-sample error anywhere shifts the
    integer sum). Map-only (no shuffle)."""
    from azure_medicine_data_engineering_spark.operators.flac import (
        attach_flac_payload,
        decode_flac_audio,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_flac_payload(docs, "doc_id", "text")
    return decode_flac_audio(media)


@register(
    "multimodal_flac_quality_gates",
    """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
    d AS (
      SELECT doc_id, hex,
             32 + CAST(('0x' || substr(hex, 1, 2)) AS INT) % 97 AS n
      FROM m
    ),
    s AS (
      SELECT doc_id, n,
             list_transform(range(n),
               i -> abs((CAST(('0x' || substr(hex, (i % 16) * 2 + 1, 2)) AS INT) - 128) * 231))
               AS amps
      FROM d
    ),
    agg AS (
      SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
             CAST(list_max(amps) AS BIGINT) AS peak,
             CAST(len(list_filter(amps, a -> a >= 29000)) AS BIGINT) AS n_clipped
      FROM s
    )
    SELECT doc_id AS media_id, n_samples, peak,
           peak < 1000 AS is_silent,
           n_clipped,
           (n_clipped * 1000000 // n_samples) / 1e6 AS clip_frac
    FROM agg
    """,
)
def q_multimodal_flac_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC in the speech-corpus quality gates (round 11): the same
    silence/clip integer metrics as the WAV gate, but decoded through
    the FULL FLAC bitstream walk (`operators/flac.py` — multi-frame,
    rotating subframe types, CRCs verified) — the gate a LibriSpeech-
    class pipeline actually runs. The oracle regenerates the PCM from
    md5(text); any one-sample decode error flips a peak/clip count."""
    from azure_medicine_data_engineering_spark.operators.flac import (
        attach_flac_payload,
        flac_decode_samples,
    )
    from azure_medicine_data_engineering_spark.operators.media_av import (
        audio_quality_flags,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_flac_payload(docs, "doc_id", "text")
    return audio_quality_flags(media, decode_samples=flac_decode_samples)


@register(
    "pdf_ingest_e2e_docs",
    """
    WITH m AS (
      SELECT doc_id, text,
             (length(text) + 79) // 80 AS n_chunks
      FROM documents
    ),
    base AS (
      SELECT doc_id, n_chunks,
             'Doc ' || CAST(doc_id AS VARCHAR)
             || CASE WHEN n_chunks > 0
                     THEN chr(10) || array_to_string(
                       list_transform(range(1, CAST(n_chunks AS INTEGER) + 1),
                         i -> substr(text, (i - 1) * 80 + 1, 80)),
                       chr(10))
                     ELSE '' END AS extracted
      FROM m
    )
    SELECT doc_id AS media_id,
           CAST((1 + n_chunks + 3) // 4 AS BIGINT) AS n_pages,
           CAST(1 + n_chunks AS BIGINT) AS n_lines,
           CAST(len(list_filter(regexp_split_to_array(extracted, '\\s+'),
                x -> x <> '')) AS BIGINT) AS n_words,
           CAST(length(extracted) AS BIGINT) AS n_chars,
           md5(extracted) AS text_md5
    FROM base
    """,
)
def q_pdf_ingest_e2e_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused PDF-ingest e2e (round 11, operators/pdf_text.py:
    pdf_extract_e2e): PDF decode → text extraction → quality counters
    (lines, whitespace words incl. the chunk-boundary splits, chars,
    text md5) in ONE Arrow pass — raw PDF bytes never cross a stage
    boundary, the composition a crawl pipeline actually runs on PDF
    payloads (mirror of crawl_ingest_e2e_docs). Map-only (no shuffle)."""
    from azure_medicine_data_engineering_spark.operators.pdf_text import (
        attach_pdf_payload,
        pdf_extract_e2e,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_pdf_payload(docs, "doc_id", "text", 80, 4)
    return pdf_extract_e2e(media)


@register("streaming_psi_daily_alarm", _O["psi_drift_daily_alarm"])
def q_streaming_psi_daily_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the per-day PSI drift alarm (round 11,
    streaming/windows.py:streaming_psi_daily_alarm): the stream keeps
    only the bounded (day, bin) counts; the PSI-vs-baseline composition
    is a snapshot batch over the materialized state — the architecture
    a real monitoring deployment uses. Shares the batch oracle."""
    from azure_medicine_data_engineering_spark.streaming.windows import (
        streaming_psi_daily_alarm,
    )

    return streaming_psi_daily_alarm(spark, sf_dir)


@register(
    "robots_allow_gate",
    """
    WITH m AS (
      SELECT doc_id, md5(text) AS hex, doc_id % 7 AS k FROM documents
    ),
    p AS (
      SELECT doc_id, k,
             CASE WHEN CAST(('0x' || substr(hex, 2, 1)) AS INT) % 3 <> 2
                  THEN '/p' || CAST(CAST(('0x' || substr(hex, 1, 1)) AS INT) % 4 AS VARCHAR)
                  ELSE '/q' || CAST(CAST(('0x' || substr(hex, 1, 1)) AS INT) % 4 AS VARCHAR)
             END
             || CASE CAST(('0x' || substr(hex, 3, 1)) AS INT) % 3
                  WHEN 0 THEN '' WHEN 1 THEN '/open' ELSE '/deep' END
             || '/page' || substr(hex, 4, 1) AS path
      FROM m
    ),
    r AS (
      SELECT doc_id, k, path,
             '/p' || CAST(k % 4 AS VARCHAR) AS d1,
             '/p' || CAST(k % 4 AS VARCHAR) || '/open' AS a1,
             '/q' || CAST((k + 1) % 4 AS VARCHAR) || '/deep' AS d2
      FROM p
    ),
    sc AS (
      SELECT doc_id, k, path,
             CASE WHEN starts_with(path, d1) THEN length(d1) ELSE -1 END AS s1,
             CASE WHEN starts_with(path, a1) THEN length(a1) ELSE -1 END AS s2,
             CASE WHEN starts_with(path, d2) THEN length(d2) ELSE -1 END AS s3
      FROM r
    )
    SELECT doc_id,
           'h' || CAST(k AS VARCHAR) || '.example.com' AS host,
           path,
           GREATEST(s1, s2, s3) = -1 OR s2 = GREATEST(s1, s2, s3) AS allowed,
           CAST(GREATEST(s1, s2, s3) AS INT) AS rule_len
    FROM sc
    """,
)
def q_robots_allow_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl politeness gate (round 11, operators/robots.py): every
    document's fixture URL evaluated against its host's robots.txt by a
    real REP parser/evaluator (user-agent group selection, longest-match
    decision, Allow-wins-ties, wildcard '*' and '$' anchors — pinned in
    unit tests) inside one Arrow pass. The fixture hosts publish
    wildcard-free PREFIX rules, so the oracle replays the longest-prefix
    decision in pure SQL (starts_with + GREATEST); decoy agent groups
    and comment noise must be skipped correctly to match. Map-only."""
    from azure_medicine_data_engineering_spark.operators.robots import (
        robots_gate,
    )

    return robots_gate(_t(spark, sf_dir, "documents"))


@register(
    "multimodal_decode_flac_stereo",
    """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
    d AS (
      SELECT doc_id, hex,
             32 + CAST(('0x' || substr(hex, 1, 2)) AS INT) % 97 AS n
      FROM m
    )
    SELECT doc_id AS media_id,
           CAST(2 AS INT) AS channels,
           CAST(n AS INT) AS n_samples,
           CAST(list_sum(list_transform(range(n),
                i -> abs((CAST(('0x' || substr(hex, (i % 16) * 2 + 1, 2)) AS INT) - 128) * 231)))
                AS DOUBLE) / n AS mean_abs_left,
           CAST(list_sum(list_transform(range(n),
                i -> abs((CAST(('0x' || substr(hex, ((i + 5) % 16) * 2 + 1, 2)) AS INT) - 128) * 197)))
                AS DOUBLE) / n AS mean_abs_right
    FROM d
    """,
)
def q_multimodal_decode_flac_stereo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STEREO FLAC path (round 11): mid/side-decorrelated streams
    (channel assignment 10 — mid at 16 bits, side at 17) with a
    phase-shifted right channel so the side signal is load-bearing; the
    decoder's decorrelation must reconstruct BOTH channels exactly for
    the per-channel integer means to hash (`operators/flac.py`). Takes
    the stereo paths from pin-tested to gate-verified. Map-only."""
    from azure_medicine_data_engineering_spark.operators.flac import (
        attach_flac_stereo_payload,
        decode_flac_stereo,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_flac_stereo_payload(docs, "doc_id", "text")
    return decode_flac_stereo(media)


@register(
    "sitemap_ingest_urls",
    """
    WITH m AS (SELECT doc_id, md5(text) AS hex FROM documents),
    d AS (
      SELECT doc_id, hex,
             1 + CAST(('0x' || substr(hex, 5, 1)) AS INT) % 4 AS n
      FROM m
    ),
    e AS (
      SELECT doc_id, hex, CAST(k AS INT) AS pos
      FROM d, range(0, 4) t(k) WHERE k < n
    )
    SELECT doc_id AS media_id,
           pos,
           'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com/s'
             || CAST(CAST(('0x' || substr(hex, pos + 1, 1)) AS INT) AS VARCHAR)
             || '/page' || substr(hex, pos + 6, 1) AS loc,
           '2024-01-' || CASE WHEN 1 + CAST(('0x' || substr(hex, pos + 2, 1)) AS INT) < 10
                              THEN '0' ELSE '' END
             || CAST(1 + CAST(('0x' || substr(hex, pos + 2, 1)) AS INT) AS VARCHAR)
             AS lastmod,
           CAST(CAST(('0x' || substr(hex, pos + 3, 1)) AS INT) % 10 AS INT)
             AS priority_deci,
           FALSE AS is_index
    FROM e
    """,
)
def q_sitemap_ingest_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap URL-discovery ingest (round 11, sources/sitemap.py) — the
    crawl-frontier stage upstream of the robots gate: spec-correct
    sitemaps.org urlsets (namespace-qualified, even doc ids gzipped as
    .xml.gz) manufactured deterministically from md5(text), then
    exploded to per-URL frontier rows by the namespace-aware stdlib
    parser inside one Arrow fan-out pass. The oracle recomputes every
    loc/lastmod/priority from the digest — the gzip sniff, namespace
    handling, element order, and deci-grid priority parse must all be
    exact. Map-only."""
    from azure_medicine_data_engineering_spark.sources.sitemap import (
        attach_sitemap_payload,
        sitemap_ingest_urls,
    )

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    media = attach_sitemap_payload(docs, "doc_id", "text")
    return sitemap_ingest_urls(media)


@register(
    "wds_multisample_shards",
    """
    WITH m AS (
      SELECT doc_id // 8 AS shard_id, doc_id,
             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS txt_bytes
      FROM documents
    )
    SELECT shard_id,
           CAST(2 * COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(COUNT(*) AS BIGINT) AS n_complete,
           CAST(SUM(txt_bytes) + COUNT(*) AS BIGINT) AS sum_sizes
    FROM m GROUP BY shard_id
    """,
)
def q_wds_multisample_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realistic-granularity WebDataset shards (round 13): 8 samples per
    tar (`sources/webdataset.py:attach_wds_multisample_payload` — a keyed
    shuffle assembles each shard in one Arrow group pass, the actual
    shard-writer shape), then the member explode + SAMPLE REASSEMBLY the
    training loader runs (`wds_sample_assembly_report`): per shard,
    members / samples / complete samples (both .txt and .cls present) /
    total member bytes. The oracle recomputes every count from the doc
    grouping closed-form — the 512-byte ustar walk across a multi-member
    archive must slice every member exactly to match byte totals."""
    from azure_medicine_data_engineering_spark.sources.webdataset import (
        attach_wds_multisample_payload,
        wds_ingest_members,
        wds_sample_assembly_report,
    )

    docs = _t(spark, sf_dir, "documents")
    shards = attach_wds_multisample_payload(docs, "doc_id", "text")
    members = wds_ingest_members(
        shards.select(F.col("shard_id").alias("media_id"), "payload")
    )
    return wds_sample_assembly_report(members)


# ---------------------------------------------------------------------------
# Round 14: streaming twin of the alignment gate (the multimodal funnel's
# first stage as a continuous ingest filter).
# ---------------------------------------------------------------------------
from azure_medicine_data_engineering_spark.queries.registry import (  # noqa: E402
    ORACLES as _OR14,
)


@register("streaming_alignment_gate", _OR14["image_text_alignment_gate"])
def q_streaming_alignment_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `image_text_alignment_gate` (round 14): the
    documents feed is micro-batched (4-file staging, one file per
    trigger), every batch runs the SAME tar-parse + PNG-decode +
    integer-cosine kernel via foreachBatch and lands idempotent
    batch-id-versioned per-source PARTIAL integer counts; the report sums
    partials and finalizes keep_rate with the shared expression. The gate
    is per-sample map-only, so any micro-batch split sums to the batch
    aggregate exactly — the batch oracle is shared verbatim. Kill/replay
    pinned in tests/test_streaming_sinks.py."""
    from azure_medicine_data_engineering_spark.streaming.windows import (
        streaming_alignment_gate_report,
    )

    return streaming_alignment_gate_report(spark, sf_dir)
