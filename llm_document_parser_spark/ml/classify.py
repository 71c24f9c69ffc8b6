"""Document-type classifier — Spark ML restatement of the reference's
TF-IDF + RandomForest stack (reference: src/document_parser.py:36-46,611-681).

Mapping (SURVEY.md §2.9):
  M1 TfidfVectorizer(max_features=1000, ngram_range=(1,2))
       → RegexTokenizer + unigram∪bigram NGram + CountVectorizer(1000) + IDF
  M2 LabelEncoder            → StringIndexer / IndexToString
  M3 RandomForest(100, seed=42) → ml.RandomForestClassifier(numTrees=100, seed=42)
     fallback LogisticRegression on failure (reference: :655-662)
  M4 stratified 80/20 split  → per-class sampleBy(fractions, seed=42)
  M5 classification_report   → MulticlassClassificationEvaluator + confusion crosstab
  M6 predict                 → PipelineModel.transform (batch-scored)
  M7 synthetic training data → datagen bodies (spark.range, no driver loops)

Unlike the reference — which re-instantiates the model per Celery task
(reference: src/celery_app.py:88) — a fitted PipelineModel is a distributed
artifact: load once, transform any number of partitions.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression, RandomForestClassifier
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.ml.feature import (
    IDF,
    CountVectorizer,
    IndexToString,
    NGram,
    RegexTokenizer,
    SQLTransformer,
    StringIndexer,
)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import checkpoint, storage_scope

SEED = 42
VOCAB_SIZE = 1000
NUM_TREES = 100


def build_pipeline(num_trees: int = NUM_TREES, vocab_size: int = VOCAB_SIZE) -> Pipeline:
    tokenizer = RegexTokenizer(
        inputCol="text", outputCol="words", pattern=r"\W+", minTokenLength=1
    )
    bigrams = NGram(n=2, inputCol="words", outputCol="bigrams")
    combine = SQLTransformer(
        statement="SELECT *, concat(words, bigrams) AS grams FROM __THIS__"
    )
    cv = CountVectorizer(inputCol="grams", outputCol="tf", vocabSize=vocab_size)
    idf = IDF(inputCol="tf", outputCol="features")
    label = StringIndexer(
        inputCol="document_type", outputCol="label", handleInvalid="keep"
    )
    rf = RandomForestClassifier(
        numTrees=num_trees, seed=SEED, labelCol="label", featuresCol="features"
    )
    return Pipeline(stages=[tokenizer, bigrams, combine, cv, idf, label, rf])


def stratified_split(
    df: DataFrame, label_col: str = "document_type", test_frac: float = 0.2, seed: int = SEED
) -> tuple[DataFrame, DataFrame]:
    """M4 — per-class deterministic split without a driver-side loop over rows
    (classes are few; fractions dict is tiny)."""
    classes = [r[0] for r in df.select(label_col).distinct().collect()]
    fractions = {c: 1.0 - test_frac for c in classes}
    train = df.stat.sampleBy(label_col, fractions, seed)
    test = df.join(train, df.columns, "left_anti")
    return train, test


def train_classifier(train_df: DataFrame, num_trees: int = NUM_TREES) -> PipelineModel:
    """M3 — fit; on RandomForest failure fall back to LogisticRegression,
    mirroring the reference's degradation path."""
    pipe = build_pipeline(num_trees)
    try:
        return pipe.fit(train_df)
    except Exception:
        stages = pipe.getStages()[:-1] + [
            LogisticRegression(labelCol="label", featuresCol="features")
        ]
        return Pipeline(stages=stages).fit(train_df)


def with_predicted_type(model: PipelineModel, df: DataFrame) -> DataFrame:
    """M6 — batch scoring; adds ``predicted_type`` (decoded label string)."""
    labels = None
    for stage in model.stages:
        if hasattr(stage, "labelsArray"):
            labels = stage.labelsArray[0]
    scored = model.transform(df)
    decoder = IndexToString(
        inputCol="prediction", outputCol="predicted_type", labels=list(labels)
    )
    return decoder.transform(scored).drop(
        "words", "bigrams", "grams", "tf", "features", "rawPrediction", "probability"
    )


def record_training_run(
    spark,
    history_path: str,
    model_id: str,
    n_samples: int,
    metrics: dict,
    model_path: str | None = None,
) -> None:
    """M8 — durable training-history rows (the reference keeps an in-memory
    ``training_history`` list serialized with the joblib artifact,
    src/document_parser.py:50-51,650-651,696-697; here it's an appendable
    parquet table usable from any session)."""
    import datetime as _dt

    row = [
        (
            model_id,
            _dt.datetime.now(),
            int(n_samples),
            float(metrics.get("accuracy", 0.0)),
            {k: str(v) for k, v in metrics.get("confusion", {}).items()},
            model_path,
        )
    ]
    spark.createDataFrame(
        row,
        "model_id string, trained_at timestamp, n_samples long, "
        "accuracy double, confusion map<string,string>, model_path string",
    ).write.mode("append").parquet(history_path)


def training_history(spark, history_path: str):
    """Latest-first training runs (the status-poll side of M8)."""
    return spark.read.parquet(history_path).orderBy(F.desc("trained_at"))


def classification_report(
    scored: DataFrame,
    true_col: str = "document_type",
    pred_col: str = "predicted_type",
) -> dict:
    """M5 — per-class precision/recall/F1/support + macro/weighted averages,
    the sklearn ``classification_report`` the reference logs after training
    (reference: src/document_parser.py:644-647), computed from ONE
    distributed confusion aggregation (the collected matrix is |classes|²,
    driver-safe by construction)."""
    counts = scored.groupBy(true_col, pred_col).agg(F.count("*").alias("n")).collect()
    classes = sorted({r[true_col] for r in counts} | {r[pred_col] for r in counts})
    tp = {c: 0 for c in classes}
    true_tot = {c: 0 for c in classes}
    pred_tot = {c: 0 for c in classes}
    total = 0
    for r in counts:
        n = r["n"]
        total += n
        true_tot[r[true_col]] += n
        pred_tot[r[pred_col]] += n
        if r[true_col] == r[pred_col]:
            tp[r[true_col]] += n

    def _prf(c: str) -> dict:
        p = tp[c] / pred_tot[c] if pred_tot[c] else 0.0
        r_ = tp[c] / true_tot[c] if true_tot[c] else 0.0
        f1 = 2 * p * r_ / (p + r_) if (p + r_) else 0.0
        return {
            "precision": round(p, 4),
            "recall": round(r_, 4),
            "f1": round(f1, 4),
            "support": true_tot[c],
        }

    report = {c: _prf(c) for c in classes}
    present = [c for c in classes if true_tot[c]]
    macro = {
        m: round(sum(report[c][m] for c in present) / len(present), 4)
        for m in ("precision", "recall", "f1")
    }
    weighted = {
        m: round(
            sum(report[c][m] * report[c]["support"] for c in present) / total, 4
        )
        for m in ("precision", "recall", "f1")
    }
    report["macro avg"] = {**macro, "support": total}
    report["weighted avg"] = {**weighted, "support": total}
    report["accuracy"] = round(sum(tp.values()) / total, 4) if total else 0.0
    return report


def evaluate(model: PipelineModel, test_df: DataFrame) -> dict:
    """M5/A5 — accuracy + confusion counts + full classification report
    (reference: evaluate_model src/document_parser.py:815-857, report
    :644-647)."""
    with storage_scope():
        scored = checkpoint(with_predicted_type(model, test_df))
        evaluator = MulticlassClassificationEvaluator(
            labelCol="label", predictionCol="prediction", metricName="accuracy"
        )
        accuracy = evaluator.evaluate(scored)
        confusion = (
            scored.groupBy("document_type", "predicted_type")
            .agg(F.count("*").alias("n"))
            .collect()
        )
        report = classification_report(scored)
    return {
        "accuracy": round(accuracy * 100, 2),
        "confusion": {
            f"{r['document_type']}_{r['predicted_type']}": r["n"] for r in confusion
        },
        "report": report,
    }


# deliberate cross-labels in the reference's golden set (invoice_04-08 are
# truly receipts, etc. — scripts/test_model_accuracy.py:19-25,55-56): every
# CROSS_EVERY-th doc carries a true label that disagrees with its text
CROSS_EVERY = 10
_CROSS_LABEL = {
    "invoice": "receipt",
    "receipt": "invoice",
    "contract": "invoice",
    "contact": "contract",
}


def golden_label_set(spark, n: int = 80, seed: int = 7) -> DataFrame:
    """M8-adjacent eval harness — a seeded synthetic golden set with the
    reference's shape (scripts/test_model_accuracy.py:10-97): ~80 docs of
    invoice/receipt/contract/contact text, a fraction deliberately
    cross-labeled so a perfect text classifier CANNOT reach 100% — the
    reference reports 85% on its set (data_visualisation.py:5-19).

    Driver-side construction is correct here: a golden set is a small
    curated artifact (the reference hard-codes every path)."""
    import random

    from ..datagen import _BODY_FNS

    cycle = ["invoice", "receipt", "contract", "contact"]
    rows = []
    for i in range(n):
        nominal = cycle[i % len(cycle)]
        rng = random.Random(seed * 1_000_003 + i)
        text = _BODY_FNS[nominal](rng, i).replace("\n", " ")
        true = nominal
        if i % CROSS_EVERY == CROSS_EVERY - 1:
            true = _CROSS_LABEL.get(nominal, nominal)
        rows.append((f"golden_{i:03d}", text, true, nominal != true))
    return spark.createDataFrame(
        rows, "doc_id string, text string, document_type string, cross_labeled boolean"
    )


def golden_eval(model: PipelineModel, golden_df: DataFrame) -> dict:
    """Evaluate against golden labels by STRING comparison (no dependence on
    the model's label indexing): accuracy + per-class P/R/F1 + confusion."""
    with storage_scope():
        scored = checkpoint(with_predicted_type(model, golden_df))
        total = scored.count()
        correct = scored.filter(
            F.col("predicted_type") == F.col("document_type")
        ).count()
        report = classification_report(scored)
        confusion = (
            scored.groupBy("document_type", "predicted_type")
            .agg(F.count("*").alias("n"))
            .collect()
        )
    return {
        "total_documents": total,
        "correct_predictions": correct,
        "accuracy": round(correct / total * 100, 2) if total else 0.0,
        "report": report,
        "confusion": {
            f"{r['document_type']}_{r['predicted_type']}": r["n"] for r in confusion
        },
    }
