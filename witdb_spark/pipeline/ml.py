"""ML plugin analog (reference plugin/trino-ml: learn_classifier /
classify / features over a libsvm wrapper, Classifier.java) rebuilt on
Spark MLlib — the distributed-native替 is the whole point: MLlib's
LogisticRegression trains with distributed treeAggregate passes instead of
the reference's single-node libsvm call.

Models are returned as fitted PipelineModel-like objects (the reference
returns an opaque Classifier value); `classify` applies them. Training is
deterministic given a fixed partitioning up to float reduction order —
tests assert accuracy bounds, not exact coefficients (same policy as the
approx sketches)."""

from __future__ import annotations

from pyspark.ml.classification import LogisticRegression, LogisticRegressionModel
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from witdb_spark.frames import local_frame


def learn_classifier(
    train: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    max_iter: int = 25,
    reg_param: float = 0.01,
) -> LogisticRegressionModel:
    """learn_classifier(label, features) -> model (reference
    plugin/trino-ml MLFunctions.java). Multinomial logistic regression;
    features arrive as array<float> columns straight off parquet."""
    assembled = train.select(
        F.col(label_col).cast("double").alias("label"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    lr = LogisticRegression(maxIter=max_iter, regParam=reg_param)
    return lr.fit(assembled)


def classify(
    model: LogisticRegressionModel, df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """classify(features, model) -> predicted label per input row; keeps
    all input columns and appends `prediction`. The model's working
    columns are remapped to reserved __clf_* names so pre-existing
    features/rawPrediction/probability/prediction columns survive."""
    for c in df.columns:
        if c == "prediction":
            raise ValueError(
                "classify appends a 'prediction' column; rename the"
                " existing one first"
            )
    assembled = df.withColumn(
        "__clf_features", array_to_vector(F.col(vec_col).cast("array<double>"))
    )
    m = model.copy(None)
    m.setFeaturesCol("__clf_features")
    m.setRawPredictionCol("__clf_raw")
    m.setProbabilityCol("__clf_prob")
    m.setPredictionCol("__clf_pred")
    out = m.transform(assembled)
    return out.drop("__clf_features", "__clf_raw", "__clf_prob").withColumn(
        "prediction", F.col("__clf_pred").cast("int")
    ).drop("__clf_pred")


def learn_regressor(
    train: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    max_iter: int = 25,
    reg_param: float = 0.01,
):
    """learn_regressor(label, features) -> model (reference
    plugin/trino-ml LearnRegressorAggregation — libsvm epsilon-SVR
    there; distributed MLlib LinearRegression here, same train-once
    apply-everywhere contract as learn_classifier)."""
    from pyspark.ml.regression import LinearRegression

    assembled = train.select(
        F.col(label_col).cast("double").alias("label"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias(
            "features"
        ),
    )
    return LinearRegression(maxIter=max_iter, regParam=reg_param).fit(
        assembled
    )


def regress(model, df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """regress(features, model) -> input rows + `prediction` (reference
    MLFunctions.java regress:67)."""
    if "prediction" in df.columns:
        raise ValueError(
            "regress appends a 'prediction' column; rename the existing"
            " one first"
        )
    assembled = df.withColumn(
        "__reg_features",
        array_to_vector(F.col(vec_col).cast("array<double>")),
    )
    m = model.copy(None)
    m.setFeaturesCol("__reg_features")
    m.setPredictionCol("prediction")
    return m.transform(assembled).drop("__reg_features")


def evaluate_classifier_predictions(
    df: DataFrame, truth_col: str, pred_col: str
) -> DataFrame:
    """evaluate_classifier_predictions(truth, prediction) -> one-row
    report (reference EvaluateClassifierPredictionsAggregation.java:97 —
    identical text format: Accuracy then per-class Precision/Recall).
    Distributed shape: one groupBy over (truth, prediction) pairs —
    label-cardinality rows cross the exchange, the text assembles
    driver-side like the reference's single OutputFunction."""
    t = F.col(truth_col).cast("string")
    p = F.col(pred_col).cast("string")
    counts = (
        df.select(t.alias("t"), p.alias("p"))
        # the reference's InputFunction never sees nulls (aggregate
        # inputs skip them); mirror that instead of crashing the sort
        .where(F.col("t").isNotNull() & F.col("p").isNotNull())
        .groupBy("t", "p")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    tp: dict = {}
    fp: dict = {}
    fn: dict = {}
    for row in counts:
        if row["t"] == row["p"]:
            tp[row["t"]] = tp.get(row["t"], 0) + row["n"]
        else:
            fp[row["p"]] = fp.get(row["p"], 0) + row["n"]
            fn[row["t"]] = fn.get(row["t"], 0) + row["n"]

    def pct(num, den):
        if den == 0:
            return "NaN"
        return "%.2f" % (100.0 * num / den)

    correct = sum(tp.values())
    total = correct + sum(fp.values())
    lines = ["Accuracy: %d/%d (%s%%)" % (correct, total, pct(correct, total))]
    for label in sorted(set(tp) | set(fp) | set(fn)):
        tpos, fpos, fneg = tp.get(label, 0), fp.get(label, 0), fn.get(label, 0)
        lines.append("Class '%s'" % label)
        lines.append(
            "Precision: %d/%d (%s%%)" % (tpos, tpos + fpos, pct(tpos, tpos + fpos))
        )
        lines.append(
            "Recall: %d/%d (%s%%)" % (tpos, tpos + fneg, pct(tpos, tpos + fneg))
        )
    report = "\n".join(lines) + "\n"
    spark = df.sparkSession
    return local_frame(spark, [(report,)], "report string")
