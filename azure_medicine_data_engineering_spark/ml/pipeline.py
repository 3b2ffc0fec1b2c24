"""Classification pipeline (SURVEY §2.12 M1-M8).

Parity with the reference's Azure ML + sklearn notebook (``AzureMl/mlB``;
``README.md:494-724``): mean imputation (M1) → min-max scaling (M2) →
decision tree (M5) → accuracy + ROC-AUC (M6), with grid search standing in
for Bayesian hyperdrive (M7 — documented difference) and
``featureImportances`` for the TabularExplainer (M8).

The 70/30 split (M4) is HASH-based, not ``randomSplit``: randomSplit depends
on partitioning, a deterministic hash of the row id does not — required for
reproducible results on any cluster layout.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class TrainedModel:
    model: object  # PipelineModel
    metrics: dict[str, float]
    feature_importances: dict[str, float]


def hash_split(df: DataFrame, id_col: str, train_frac: float = 0.7) -> tuple[DataFrame, DataFrame]:
    """Deterministic split on a stable hash of the id column (M4).

    md5-derived bucket (not xxhash64) so any engine can replicate the split
    for verification: bucket = int(md5(cast(id as string))[:4], 16) % 100.
    DuckDB twin: ``CAST(('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 4)) AS
    BIGINT) % 100`` — used by the ``ml_decision_tree_orders`` oracle."""
    bucket = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
    )
    threshold = int(round(train_frac * 100))
    train = df.where(bucket < threshold)
    test = df.where(bucket >= threshold)
    return train, test


def train_decision_tree(
    train: DataFrame,
    feature_cols: list[str],
    label_col: str,
    max_depth: int = 5,
    min_instances_per_node: int = 7,
    min_info_gain: float = 5e-5,
    seed: int = 42,
):
    """Imputer(mean) → MinMaxScaler → DecisionTreeClassifier pipeline.
    Hyperparameter defaults mirror the reference's best hyperdrive run
    (max_depth 5, min_samples_split 7, min_impurity_decrease 5e-5,
    README.md:718-724)."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.feature import Imputer, MinMaxScaler, VectorAssembler

    imputed = [f"{c}__imp" for c in feature_cols]
    stages = [
        Imputer(strategy="mean", inputCols=feature_cols, outputCols=imputed),
        VectorAssembler(inputCols=imputed, outputCol="features_raw"),
        MinMaxScaler(inputCol="features_raw", outputCol="features"),
        DecisionTreeClassifier(
            labelCol=label_col,
            featuresCol="features",
            maxDepth=max_depth,
            minInstancesPerNode=min_instances_per_node,
            minInfoGain=min_info_gain,
            seed=seed,
        ),
    ]
    return Pipeline(stages=stages).fit(train)


def evaluate(model, test: DataFrame, feature_cols: list[str], label_col: str) -> TrainedModel:
    from pyspark.ml.evaluation import (
        BinaryClassificationEvaluator,
        MulticlassClassificationEvaluator,
    )

    pred = model.transform(test)
    auc = BinaryClassificationEvaluator(
        labelCol=label_col, metricName="areaUnderROC"
    ).evaluate(pred)
    acc = MulticlassClassificationEvaluator(
        labelCol=label_col, metricName="accuracy"
    ).evaluate(pred)
    tree = model.stages[-1]
    importances = {
        c: float(tree.featureImportances[i]) for i, c in enumerate(feature_cols)
    }
    return TrainedModel(
        model=model,
        metrics={"auc": float(auc), "accuracy": float(acc)},
        feature_importances=importances,
    )


def sample_tree_configs(
    n_configs: int = 50, seed: int = 42
) -> list[dict[str, float]]:
    """Seeded random draw of decision-tree hyperparameter configs (M7).

    Matches the reference's hyperdrive search space and 50-run budget
    (``README.md:697-703``: max_depth, min_samples_split,
    min_impurity_decrease over a log range). Deterministic: same seed →
    same config list on any machine (stdlib ``random.Random``, no numpy
    platform drift)."""
    import random

    rng = random.Random(seed)
    configs = []
    for _ in range(n_configs):
        configs.append(
            {
                "maxDepth": rng.randint(2, 12),
                "minInstancesPerNode": rng.choice([1, 2, 3, 5, 7, 10, 15, 20]),
                # log-uniform over [1e-6, 1e-2], like hyperdrive's loguniform
                "minInfoGain": 10.0 ** rng.uniform(-6.0, -2.0),
            }
        )
    return configs


def random_search_tree(
    train: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_configs: int = 50,
    seed: int = 42,
):
    """Random-search tuning (M7) over :func:`sample_tree_configs` draws via
    ``TrainValidationSplit`` — the all-parallel budget BASELINE (Bergstra &
    Bengio 2012). The reference's *Bayesian* hyperdrive mode is
    :func:`tpe_search_tree` (batched TPE: adaptive proposals, parallel
    fitting within each round). Returns ``(tvs_model, configs)``."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import Imputer, MinMaxScaler, VectorAssembler
    from pyspark.ml.tuning import TrainValidationSplit

    imputed = [f"{c}__imp" for c in feature_cols]
    dt = DecisionTreeClassifier(labelCol=label_col, featuresCol="features", seed=seed)
    pipe = Pipeline(
        stages=[
            Imputer(strategy="mean", inputCols=feature_cols, outputCols=imputed),
            VectorAssembler(inputCols=imputed, outputCol="features_raw"),
            MinMaxScaler(inputCol="features_raw", outputCol="features"),
            dt,
        ]
    )
    configs = sample_tree_configs(n_configs, seed)
    param_maps = [
        {
            dt.maxDepth: c["maxDepth"],
            dt.minInstancesPerNode: c["minInstancesPerNode"],
            dt.minInfoGain: c["minInfoGain"],
        }
        for c in configs
    ]
    tvs = TrainValidationSplit(
        estimator=pipe,
        estimatorParamMaps=param_maps,
        evaluator=BinaryClassificationEvaluator(labelCol=label_col),
        trainRatio=0.75,
        seed=seed,
        parallelism=4,
    )
    return tvs.fit(train), configs


def hashed_token_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> tuple[DataFrame, list[str]]:
    """Hashed bag-of-words feature frame — the TRAINING-side twin of the
    fastText-shape serving path (``operators/text_rank.py:
    hashed_linear_scores``): the same ``h(tok) % n_buckets`` buckets, but
    materialized as ``n_buckets`` count columns so Spark ML can assemble
    them into a feature vector. One token explode + ONE wide conditional
    aggregation keyed on the doc id (no pivot shuffle, no UDF); docs whose
    text yields zero tokens keep all-zero features via the left join.
    Returns ``(features_df, feature_col_names)``."""
    from azure_medicine_data_engineering_spark.operators.dedup import _hash32
    from azure_medicine_data_engineering_spark.operators.text import tokens

    cols = [f"f{i}" for i in range(n_buckets)]
    tok = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).select(id_col, (_hash32(F.col("tok")) % n_buckets).alias("b"))
    counted = tok.groupBy(id_col).agg(
        *[
            F.sum((F.col("b") == i).cast("int")).cast("double").alias(c)
            for i, c in enumerate(cols)
        ]
    )
    base = df.select(id_col).join(counted, id_col, "left").na.fill(0.0, cols)
    return base, cols


def train_quality_lr(
    train: DataFrame,
    feature_cols: list[str],
    label_col: str,
    max_iter: int = 25,
    reg_param: float = 0.01,
):
    """Distributed logistic-regression training of the hashed quality
    classifier (closes the train half of the fastText loop whose serving
    half is ``hashed_linear_scores``; reference boundary analog: the
    sklearn notebook ``AzureMl/mlB`` trains centrally, this trains where
    the data lives). VectorAssembler over the hashed count columns →
    L2-regularized LogisticRegression (LBFGS; deterministic
    initialization, no seed parameter). Returns the fitted
    PipelineModel."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    stages = [
        VectorAssembler(inputCols=feature_cols, outputCol="features"),
        LogisticRegression(
            labelCol=label_col,
            featuresCol="features",
            maxIter=max_iter,
            regParam=reg_param,
        ),
    ]
    return Pipeline(stages=stages).fit(train)


def train_als_recommender(
    ratings: DataFrame,
    user_col: str = "user_id",
    item_col: str = "item_id",
    rating_col: str = "rating",
    rank: int = 8,
    reg_param: float = 0.1,
    max_iter: int = 5,
    seed: int = 42,
    implicit_prefs: bool = True,
    nonnegative: bool = True,
):
    """Collaborative-filtering recommender via Spark ML ALS (implicit
    feedback, Hu/Koren/Volinsky 2008) — the matrix-factorization sibling
    of the content-based retrieval stack (``operators/similarity.py``):
    ranks items a user has NOT interacted with by latent-factor affinity
    learned from interaction strength. Reference boundary analog: the
    sklearn notebook boundary (``AzureMl/mlB``) trains centrally; ALS is
    the canonically-distributed trainer (block-partitioned alternating
    least squares — each sweep solves per-user/per-item normal equations
    against broadcast factor blocks), so it scales to the 100 TB
    interaction log where a driver-side factorization cannot.

    Not oracle-expressible: the factorization is iterative least squares
    whose float accumulation order depends on block partitioning —
    evidence is the pytest ranking-quality gate (recommendations must
    rank a user's held-in top item above never-seen items), not a SQL
    hash twin. Returns the fitted ALSModel; callers use
    ``recommendForAllUsers(k)`` (vocabulary-bounded output, never
    user×item dense)."""
    from pyspark.ml.recommendation import ALS

    als = ALS(
        userCol=user_col,
        itemCol=item_col,
        ratingCol=rating_col,
        rank=rank,
        regParam=reg_param,
        maxIter=max_iter,
        seed=seed,
        # implicit (Hu/Koren/Volinsky confidence weighting) by default;
        # explicit least-squares reconstruction when the caller's ratings
        # are true preference VALUES to be recovered (the planted
        # als_block_recommender_events surface query uses this)
        implicitPrefs=implicit_prefs,
        # nonnegative factors aid interpretability; callers planting
        # negative viewed-not-engaged signal (p=0, c=1+alpha*|r|) need
        # free-sign factors to represent the suppression direction
        nonnegative=nonnegative,
        coldStartStrategy="drop",
    )
    return als.fit(ratings)


# ---------------------------------------------------------------------------
# Batched TPE Bayesian hyperparameter search (closes the M7 parity gap).
# ---------------------------------------------------------------------------

#: Search space matching sample_tree_configs / the reference's hyperdrive
#: ranges (README.md:697-703): (low, high, is_log, is_int) per dimension.
TPE_SPACE: dict[str, tuple[float, float, bool, bool]] = {
    "maxDepth": (2, 12, False, True),
    "minInstancesPerNode": (1, 20, False, True),
    "minInfoGain": (1e-6, 1e-2, True, False),
}


def _tpe_unit(value: float, low: float, high: float, is_log: bool) -> float:
    import math

    if is_log:
        return (math.log(value) - math.log(low)) / (math.log(high) - math.log(low))
    return (value - low) / (high - low)


def _tpe_from_unit(u: float, low: float, high: float, is_log: bool, is_int: bool):
    import math

    u = min(1.0, max(0.0, u))
    if is_log:
        v = math.exp(math.log(low) + u * (math.log(high) - math.log(low)))
    else:
        v = low + u * (high - low)
    return int(math.floor(v + 0.5)) if is_int else v


def tpe_propose(
    history: list[tuple[dict, float]],
    batch: int,
    seed: int,
    space: dict[str, tuple[float, float, bool, bool]] = None,
    gamma: float = 0.25,
    n_candidates: int = 32,
) -> list[dict]:
    """One batched Tree-Parzen-Estimator proposal round (Bergstra et al.
    2011): split observed trials at the top-``gamma`` score quantile,
    model good/bad per dimension as Gaussian KDEs in unit space
    (factorized TPE), draw candidates from the GOOD kde and rank by the
    density ratio l(x)/g(x) (∝ expected improvement under the TPE
    identity). Pure seeded numpy — deterministic on any machine; batch
    proposals keep Spark's parallel param-map fitting per round (the
    standard batch-BO compromise the old seeded-random note worried
    about). Scores are HIGHER-is-better."""
    import numpy as np

    space = space or TPE_SPACE
    rng = np.random.default_rng(seed)
    names = sorted(space)
    obs = sorted(history, key=lambda t: -t[1])
    n_good = max(1, int(round(gamma * len(obs))))
    good = obs[:n_good]
    bad = obs[n_good:] or obs[:1]

    def kde(samples, x):
        samples = np.asarray(samples, dtype=float)
        bw = max(0.1, samples.std() * (len(samples) ** -0.2)) if len(samples) > 1 else 0.25
        d = (x[:, None] - samples[None, :]) / bw
        return np.exp(-0.5 * d * d).sum(axis=1) / (len(samples) * bw) + 1e-12

    out: list[dict] = []
    seen = {tuple(sorted(c.items())) for c, _ in history}
    for b in range(batch):
        cand_u = {}
        score = np.ones(n_candidates)
        for dim in names:
            low, high, is_log, is_int = space[dim]
            gu = [_tpe_unit(c[dim], low, high, is_log) for c, _ in good]
            bu = [_tpe_unit(c[dim], low, high, is_log) for c, _ in bad]
            centers = np.array(gu)[rng.integers(0, len(gu), n_candidates)]
            draws = np.clip(centers + rng.normal(0, 0.2, n_candidates), 0, 1)
            score *= kde(gu, draws) / kde(bu, draws)
            cand_u[dim] = draws
        for idx in np.argsort(-score):
            cfg = {
                dim: _tpe_from_unit(cand_u[dim][idx], *space[dim])
                for dim in names
            }
            key = tuple(sorted(cfg.items()))
            if key not in seen:
                seen.add(key)
                out.append(cfg)
                break
        else:  # all candidates duplicate: take the top one anyway
            idx = int(np.argmax(score))
            out.append(
                {dim: _tpe_from_unit(cand_u[dim][idx], *space[dim]) for dim in names}
            )
    return out


def tpe_search_tree(
    train: DataFrame,
    feature_cols: list[str],
    label_col: str,
    n_configs: int = 50,
    n_warmup: int = 10,
    batch: int = 5,
    seed: int = 42,
):
    """TRUE sequential Bayesian hyperparameter search (M7 — the reference's
    hyperdrive Bayesian mode, ``README.md:697-703``): ``n_warmup`` seeded
    random trials, then TPE-proposed batches of ``batch`` configs until the
    ``n_configs`` budget is spent. Each batch fits as ONE parallel
    ``TrainValidationSplit`` param-map evaluation (parallelism=4), so the
    adaptivity costs ⌈(n−w)/b⌉ sequential rounds instead of n — the batch-BO
    resolution of the serialize-vs-parallel tension :func:`random_search_tree`
    documents (that one remains the all-parallel budget baseline).

    Returns ``(best_model, history)`` — history is the [(config, auc), ...]
    trial ledger, best model refit on the winning config."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import Imputer, MinMaxScaler, VectorAssembler
    from pyspark.ml.tuning import TrainValidationSplit

    imputed = [f"{c}__imp" for c in feature_cols]

    def build():
        dt = DecisionTreeClassifier(
            labelCol=label_col, featuresCol="features", seed=seed
        )
        pipe = Pipeline(
            stages=[
                Imputer(strategy="mean", inputCols=feature_cols, outputCols=imputed),
                VectorAssembler(inputCols=imputed, outputCol="features_raw"),
                MinMaxScaler(inputCol="features_raw", outputCol="features"),
                dt,
            ]
        )
        return dt, pipe

    def fit_batch(configs):
        dt, pipe = build()
        maps = [
            {
                dt.maxDepth: int(c["maxDepth"]),
                dt.minInstancesPerNode: int(c["minInstancesPerNode"]),
                dt.minInfoGain: float(c["minInfoGain"]),
            }
            for c in configs
        ]
        tvs = TrainValidationSplit(
            estimator=pipe,
            estimatorParamMaps=maps,
            evaluator=BinaryClassificationEvaluator(labelCol=label_col),
            trainRatio=0.75,
            seed=seed,
            parallelism=4,
        )
        m = tvs.fit(train)
        return m, list(m.validationMetrics)

    history: list[tuple[dict, float]] = []
    best_model, best_auc = None, float("-inf")
    round_id = 0
    while len(history) < n_configs:
        if not history:
            configs = sample_tree_configs(min(n_warmup, n_configs), seed)
        else:
            configs = tpe_propose(
                history, min(batch, n_configs - len(history)), seed + round_id
            )
        model, metrics = fit_batch(configs)
        for c, auc in zip(configs, metrics):
            history.append((c, float(auc)))
        top = max(metrics)
        if top > best_auc:
            best_auc, best_model = top, model
        round_id += 1
    return best_model, history
