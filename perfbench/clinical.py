"""The paper's clinical DAG as one benchmark pass.

read TSV -> clean -> publish cleaned -> divisions + quality report ->
derived columns -> harmonize -> golden summaries -> permutation tests +
FDR -> frequent itemsets -> decision tree, with every stage product
published through ``sources.catalog.create_table_with_meta``. Downstream
stages read the published cleaned tables back from the catalog, as the
reference's notebooks do (``stydyGrB.scala:15``).

A pass covers every stage once for the study and control cohorts and
publishes six of the 21 golden tables: on a 4-core machine each extra
product costs 1-3 s of planning, scheduling and small writes, and the
whole benchmark has to fit its time budget.

The configs here are the benchmark's own copies (derived from
``perfbench.cohorts``); the derived columns follow
``tests/test_golden_tables.py`` over the cohorts' real columns.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from azure_medicine_data_engineering_spark.functions.mining import frequent_itemsets
from azure_medicine_data_engineering_spark.functions.stats import (
    permutation_test_grouped,
    storey_select_df,
)
from azure_medicine_data_engineering_spark.ml.pipeline import (
    evaluate,
    hash_split,
    train_decision_tree,
)
from azure_medicine_data_engineering_spark.operators.divisions import (
    division_table,
    get_columns_of_divisions,
)
from azure_medicine_data_engineering_spark.operators.quality import quality_report
from azure_medicine_data_engineering_spark.plans.golden_tables import (
    GOLDEN_TABLES,
    build_golden_tables,
)
from azure_medicine_data_engineering_spark.plans.pipeline import harmonize_cohorts
from azure_medicine_data_engineering_spark.sources.catalog import (
    DEFAULT_CATALOG_TABLE,
    create_table_with_meta,
    read_meta,
)
from azure_medicine_data_engineering_spark.sources.readers import read_csv, read_table

from perfbench import cohorts

#: cohort rows at paper scale (FIXTURES.md: ~50-200 rows per table)
PAPER_ROWS = 100
HYPOTHESES = ["suv_focus", "suv_background", "injected_activity", "glucose", "tbr"]
PERMUTATIONS = 200
ML_FEATURES = ["suv_focus", "suv_background", "injected_activity", "glucose"]
#: the golden tables a pass publishes, one per source cohort and
#: aggregation mix: the flagship SUV table (dataSummaries1.scala:360-369),
#: indicator sums, derived intervals, laboratory values, the control
#: cohort and the harmonized study-vs-control comparison (:478-491)
GOLDEN = ["StudyGroupSuv", "surgeryCouses", "DatesSummary", "LabolatoryInflammation",
          "BasicInControlGroup", "SuvStudyVsCrontrol"]
SIGNS = {"fever": "fever", "diabetes": "diabetes", "cause_aneurysm": "aneurysm",
         "loc_abdominal_aorta": "abdominal", "micro_blood_pos": "blood+"}


def land(work_dir: str, seed: int) -> tuple[dict[str, str], dict, int]:
    """Generate and write the raw study and control cohorts as TSV. Returns
    ({cohort: path}, {cohort: expectations}, total input bytes)."""
    rng = np.random.default_rng(seed)
    paths, expect, total = {}, {}, 0
    for c in cohorts.COHORTS:
        table, exp = cohorts.generate(c, PAPER_ROWS, rng)
        paths[c.name] = os.path.join(work_dir, f"{c.name}.tsv")
        total += cohorts.write_tsv(table, paths[c.name])
        expect[c.name] = exp
    return paths, expect, total


def _derive(study: DataFrame, control: DataFrame) -> tuple[DataFrame, DataFrame]:
    study = study.withColumns({
        "months_since_surgery": F.months_between("exam_date", "surgery_date"),
        "is_stentgraft": F.col("Rodzaj protezy") == "stentgraft",
        "any_ct_finding": F.col("naciek zapalny") | F.col("przetoka")
        | F.col("płyn wokół protezy"),
    })
    control = control.withColumns({
        "tbr": F.col("suv_focus") / F.col("suv_background"),
        "age_years": F.year("implant_date") - F.col("birth_year"),
    })
    return study, control


def _harmonize(study: DataFrame, control: DataFrame) -> DataFrame:
    cols = ["patient_id", "Płeć", "suv_focus", "suv_background", "tbr",
            "injected_activity", "glucose"]
    return harmonize_cohorts(
        {"study": study, "control": control},
        {"study": {c: c for c in cols}, "control": {c: c for c in cols}},
    )


def _hypotheses(merged: DataFrame) -> DataFrame:
    # study vs control per metric, over the non-negative values
    long = None
    for m in HYPOTHESES:
        part = merged.select(
            F.lit(m).alias("hyp"),
            F.col(m).alias("value"),
            (F.col("cohort") == "study").alias("is_study"),
        ).where(F.col("value") >= 0)
        long = part if long is None else long.unionByName(part)
    tests = permutation_test_grouped(long, "hyp", "value", "is_study",
                                     n_permutations=PERMUTATIONS, seed=7)
    return storey_select_df(tests, "hypothesis", "p_value")


def _transactions(study: DataFrame) -> DataFrame:
    return study.select(
        F.array_compact(F.array(*[F.when(F.col(c), F.lit(label)) for c, label in SIGNS.items()]))
        .alias("items")
    ).where(F.size("items") > 0)


def _decision_tree(spark, merged: DataFrame) -> DataFrame:
    data = merged.select(
        (F.col("patient_id") * 2 + (F.col("cohort") == "study").cast("int")).alias("row_id"),
        *ML_FEATURES,
        (F.col("cohort") == "study").cast("double").alias("label"),
    )
    train, test = hash_split(data, "row_id")
    model = train_decision_tree(train, ML_FEATURES, "label")
    res = evaluate(model, test, ML_FEATURES, "label")
    rows = [("metric", k, float(v)) for k, v in sorted(res.metrics.items())]
    rows += [("importance", k, float(v)) for k, v in sorted(res.feature_importances.items())]
    return spark.createDataFrame(rows, "kind string, name string, value double")


def products() -> list[tuple[str, str]]:
    """(layer that builds it, product name) of every published product, in
    DAG order."""
    out = []
    for c in cohorts.COHORTS:
        out.append(("operators.cleaning", f"{c.name}Cleaned"))
    for c in cohorts.COHORTS:
        out.append(("operators.quality", f"{c.name}QualityReport"))
    out.append(("plans.pipeline", "contrAndStudyHarmonized"))
    out += [("operators.summarize", name) for name in GOLDEN]
    out.append(("functions.stats", "hypothesisTestsFdr"))
    out.append(("functions.mining", "imageSignItemsets"))
    out.append(("ml.pipeline", "decisionTreeMetrics"))
    return out


def run_pass(spark, rec, paths: dict[str, str]) -> None:
    """One full DAG pass; ``rec`` times and labels every call."""
    raw = {c.name: rec.call("sources.readers", f"{c.name}Raw",
                            lambda p=paths[c.name]: read_csv(spark, p))
           for c in cohorts.COHORTS}
    cleaned = {}
    for c in cohorts.COHORTS:
        name = f"{c.name}Cleaned"
        df = rec.call("operators.cleaning", name, lambda c=c: c.cleaning_spec().apply(raw[c.name]))
        rec.publish("operators.cleaning", name, df)
        cleaned[c.name] = rec.call("sources.readers", name, lambda n=name: read_table(spark, n))

    for c in cohorts.COHORTS:
        name = f"{c.name}QualityReport"
        rep = rec.call("operators.quality", name, lambda c=c: quality_report(
            cleaned[c.name],
            null_cols=get_columns_of_divisions(division_table(spark, c.divisions),
                                               c.null_divisions),
            ranges=c.ranges(),
            zscore_cols=c.zscore,
        ))
        rec.publish("operators.quality", name, rep)

    study, control = rec.call("plans.pipeline", "derivedColumns",
                              lambda: _derive(cleaned["study"], cleaned["control"]))
    name = "contrAndStudyHarmonized"
    merged = rec.call("plans.pipeline", name, lambda: _harmonize(study, control))
    rec.publish("plans.pipeline", name, merged)
    merged = rec.call("sources.readers", name, lambda: read_table(spark, name))

    frames = {"study": study, "control": control, "merged": merged}
    for name in GOLDEN:
        df = rec.call("operators.summarize", name,
                      lambda n=name: build_golden_tables(spark, frames, only=[n])[n])
        rec.publish("operators.summarize", name, df)

    name = "hypothesisTestsFdr"
    rec.publish("functions.stats", name, rec.call("functions.stats", name,
                                                 lambda: _hypotheses(merged)))
    name = "imageSignItemsets"
    rec.publish("functions.mining", name, rec.call(
        "functions.mining", name, lambda: frequent_itemsets(_transactions(study), min_support=0.1)))
    name = "decisionTreeMetrics"
    rec.publish("ml.pipeline", name, rec.call("ml.pipeline", name,
                                             lambda: _decision_tree(spark, merged)))


def publish(df: DataFrame, name: str) -> None:
    create_table_with_meta(df, name, f"benchmark product {name}")


def expected_golden_rows(expect: dict) -> dict[str, int]:
    """Rows per golden table: (1 grand total + distinct values of every
    category) x aggregations; category domains come from the generator."""
    distinct = {
        "study": expect["study"]["distinct"],
        "control": expect["control"]["distinct"],
        "merged": {"cohort": ["control", "study"]},
    }
    out = {}
    for cohort, name, cfg in GOLDEN_TABLES:
        if name not in GOLDEN:
            continue
        groups = 1 + sum(len(distinct[cohort][c]) for c in cfg.categories)
        out[name] = groups * len(cfg.aggs)
    return out


def check_pass(spark, expect: dict) -> list[str]:
    """Compare one pass's published tables with the generator's records;
    returns the names of products that do not match."""
    want = {f"{c.name}Cleaned": expect[c.name]["rows_after_gate"] for c in cohorts.COHORTS}
    want.update(expected_golden_rows(expect))
    counts = {r.t: r.n for r in spark.sql(" UNION ALL ".join(
        [f"SELECT '{t}' AS t, count(*) AS n FROM `{t}`" for t in want]
        + ["SELECT 'hypothesisTestsFdr', count(*) FROM hypothesisTestsFdr"
           " WHERE p_value > 0 AND p_value <= 1",
           "SELECT 'imageSignItemsets', count(*) FROM imageSignItemsets",
           "SELECT 'decisionTreeMetrics', count(*) FROM decisionTreeMetrics"
           " WHERE name = 'auc' AND value BETWEEN 0 AND 1"])).collect()}
    want.update(hypothesisTestsFdr=len(HYPOTHESES), decisionTreeMetrics=1)
    bad = [t for t, n in want.items() if counts[t] != n]
    if counts["imageSignItemsets"] < len(SIGNS):
        bad.append("imageSignItemsets")
    reports = spark.sql(" UNION ALL ".join(
        f"SELECT '{c.name}' AS cohort, * FROM {c.name}QualityReport"
        for c in cohorts.COHORTS)).collect()
    for c in cohorts.COHORTS:
        got = {(r.description, r.columnName): r.number for r in reports if r.cohort == c.name}
        if got != expect[c.name]["report"]:
            bad.append(f"{c.name}QualityReport")
    names = {r.tableName for r in read_meta(spark, DEFAULT_CATALOG_TABLE).collect()}
    return bad + sorted({p for _, p in products()} - names)
