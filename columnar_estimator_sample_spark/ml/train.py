"""ML train/evaluate loop — the reference's estimator tier on MLlib.

Reference semantics (SURVEY.md §2.9 U4-U5):
  * ``train_estimator_linear`` (/root/reference/trainer.py:271-298):
    LinearClassifier over numeric (pre-normalized) + hashed-categorical
    features -> MLlib ``LogisticRegression`` (linear binary classifier).
  * ``train_estimator_DNN`` (trainer.py:300-316): DNNClassifier with
    hidden layers [512, 256], n_classes=2 ->
    ``MultilayerPerceptronClassifier(layers=[in, 512, 256, 2])``.
  * ``train_and_evaluate`` (trainer.py:294-297,312-316) -> fit on train,
    evaluate AUC on a held-out frame with BinaryClassificationEvaluator.

Feature construction is schema-driven exactly like the reference
(trainer.py:256-269): numeric features are the ``*_norm`` columns, hashed
categorical features are sized NDV*5 from the statistics catalog
(plans/stats.py) — the engine's cardinality module feeding the model
layer, which is the reference's core loop.

Scale: feature hashing + assembly are Catalyst expressions; MLlib's LR
uses distributed L-BFGS (one pass per iteration, tree-aggregated
gradients), the standard 100 TB training loop shape.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml.classification import (
    LogisticRegression,
    MultilayerPerceptronClassifier,
)
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import VectorAssembler
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from columnar_estimator_sample_spark.functions.hashing import h64
from columnar_estimator_sample_spark.plans.stats import (
    hash_bucket_sizes, ndv_catalog,
)


@dataclass
class TrainResult:
    model: object
    auc: float
    n_features: int


def build_features(df: DataFrame, label_col: str = "label",
                   drop: tuple[str, ...] = ("row_hash",), *,
                   buckets: dict[str, int])\
        -> tuple[DataFrame, list[str]]:
    """Schema-driven feature construction (trainer.py:256-269):
      numeric  = float columns (the ``*_norm`` contract),
      categorical = string columns, hashed into ``buckets[c]`` buckets.

    ``buckets`` (column -> bucket count, from :func:`measure_buckets`)
    pins the hash space: the trainer measures it ONCE (on the training
    frame) and passes the same catalog for the eval frame — the
    reference's fixed ``vocab_size`` dict (trainer.py:91-118).
    Re-measuring NDV per frame would map the same categorical value to
    different buckets in train vs test (train/serve skew).

    Returns (frame with feature columns, feature column names)."""
    # the reference's transform_row (trainer.py:165-168): drop unused
    # columns; the label stays in the frame
    df = df.drop(*[c for c in drop if c in df.columns])
    numeric = [f.name for f in df.schema.fields
               if f.dataType.simpleString() in ("float", "double")
               and f.name != label_col]
    categorical = [f.name for f in df.schema.fields
                   if f.dataType.simpleString() == "string"]
    out = df
    feature_cols = list(numeric)
    for c in categorical:
        # hashed bucket id scaled to [0,1) — one numeric input per
        # categorical (keeps the MLP's inputs in a trainable range); a
        # full one-hot of NDV*5 buckets is the richer option
        # (OneHotEncoder) but quadratic in width for this demo loop.
        out = out.withColumn(
            f"{c}_bucket",
            (h64(F.col(c)) % buckets[c]).cast("double") / buckets[c])
        feature_cols.append(f"{c}_bucket")
    return out, feature_cols


def measure_buckets(df: DataFrame, drop: tuple[str, ...] = ("row_hash",))\
        -> dict[str, int]:
    """Measure the NDV*5 bucket catalog once (reference ``vocab_size``,
    trainer.py:91-118) — shared by train AND eval frames so the hash
    feature space is identical across both."""
    categorical = [f.name for f in df.schema.fields
                   if f.dataType.simpleString() == "string"
                   and f.name not in drop]
    return (hash_bucket_sizes(ndv_catalog(df, categorical))
            if categorical else {})


def train_linear(train_df: DataFrame, test_df: DataFrame,
                 label_col: str = "label", max_iter: int = 20)\
        -> TrainResult:
    """LogisticRegression ≈ reference LinearClassifier
    (trainer.py:287-292, SGD lr=0.001 -> L-BFGS here: same model family,
    Spark-native optimizer)."""
    buckets = measure_buckets(train_df)
    tr, cols = build_features(train_df, label_col, buckets=buckets)
    te, _ = build_features(test_df, label_col, buckets=buckets)
    asm = VectorAssembler(inputCols=cols, outputCol="features")
    lr = LogisticRegression(featuresCol="features", labelCol=label_col,
                            maxIter=max_iter)
    model = lr.fit(asm.transform(tr))
    pred = model.transform(asm.transform(te))
    auc = BinaryClassificationEvaluator(
        labelCol=label_col, rawPredictionCol="rawPrediction").evaluate(pred)
    return TrainResult(model=model, auc=auc, n_features=len(cols))


def train_dnn(train_df: DataFrame, test_df: DataFrame,
              label_col: str = "label",
              hidden: tuple[int, ...] = (16, 8), max_iter: int = 30)\
        -> TrainResult:
    """MultilayerPerceptronClassifier ≈ reference DNNClassifier
    (trainer.py:304-310: hidden [512,256], n_classes=2 — scaled-down
    hidden sizes by default for test runtime; pass hidden=(512,256) for
    the reference's exact topology)."""
    buckets = measure_buckets(train_df)
    tr, cols = build_features(train_df, label_col, buckets=buckets)
    te, _ = build_features(test_df, label_col, buckets=buckets)
    asm = VectorAssembler(inputCols=cols, outputCol="features")
    layers = [len(cols), *hidden, 2]
    mlp = MultilayerPerceptronClassifier(
        featuresCol="features", labelCol=label_col, layers=layers,
        maxIter=max_iter, seed=42)
    model = mlp.fit(asm.transform(tr))
    pred = model.transform(asm.transform(te))
    auc = BinaryClassificationEvaluator(
        labelCol=label_col, rawPredictionCol="rawPrediction").evaluate(pred)
    return TrainResult(model=model, auc=auc, n_features=len(cols))


def train_gbt(train_df: DataFrame, test_df: DataFrame,
              label_col: str = "label", max_iter: int = 20,
              max_depth: int = 4) -> TrainResult:
    """Gradient-boosted trees over the same NDV-sized hashed feature
    frame — the tabular workhorse the reference's estimator zoo lacks
    (its LinearClassifier/DNNClassifier family, trainer.py:287-310,
    covers the linear and deep ends; boosted trees cover the middle
    where most tabular lift lives). MLlib's GBTClassifier trains
    distributed: each boosting round fits a regression tree whose split
    search is one pass of per-feature histogram aggregates across
    executors — the same map-side-combine shape as the engine's
    relational aggregations, so a 100 TB frame trains without any
    driver-side materialization. Seeded for reproducibility."""
    from pyspark.ml.classification import GBTClassifier
    buckets = measure_buckets(train_df)
    tr, cols = build_features(train_df, label_col, buckets=buckets)
    te, _ = build_features(test_df, label_col, buckets=buckets)
    asm = VectorAssembler(inputCols=cols, outputCol="features")
    gbt = GBTClassifier(featuresCol="features", labelCol=label_col,
                        maxIter=max_iter, maxDepth=max_depth, seed=42)
    model = gbt.fit(asm.transform(tr))
    pred = model.transform(asm.transform(te))
    auc = BinaryClassificationEvaluator(
        labelCol=label_col, rawPredictionCol="rawPrediction").evaluate(pred)
    return TrainResult(model=model, auc=auc, n_features=len(cols))


def criteo_shaped_frame(spark, n_rows: int = 4000, n_int: int = 4,
                        n_cat: int = 4, seed: int = 42) -> DataFrame:
    """Deterministic Criteo-shaped fixture (FIXTURES.md §B1, scaled down):
    label + int features + their *_norm variants + categorical strings
    with controlled cardinalities, and a planted signal so AUC > 0.5 is a
    meaningful correctness check. Built as Catalyst expressions over a
    range — no driver-side data generation."""
    df = spark.range(n_rows).select(F.col("id"))
    cards = [9, 40, 7, 100][:n_cat]
    for i in range(1, n_int + 1):
        df = df.withColumn(f"int{i}",
                           F.abs(F.hash(F.col("id") * 31 + i * 7 + seed))
                           % 1000)
    for j, card in enumerate(cards, start=1):
        df = df.withColumn(
            f"cat{j}",
            F.concat(F.lit(f"v{j}_"),
                     (F.abs(F.hash(F.col("id") * 17 + j * 13 + seed))
                      % card).cast("string")))
    # planted signal: label is monotone in int1 with a categorical lift —
    # learnable by both a linear model and the MLP
    df = df.withColumn(
        "label",
        ((F.col("int1") > 550)
         | (F.abs(F.hash("cat1")) % 4 == 0)).cast("int").cast("double"))
    df = df.withColumn("row_hash", F.xxhash64("id"))
    for i in range(1, n_int + 1):
        mean = 499.5
        std = 288.7
        df = df.withColumn(f"int{i}_norm", (F.col(f"int{i}") - mean) / std)
    return df


def crossval_auc(df: DataFrame, k: int = 3, label_col: str = "label",
                 max_iter: int = 20) -> list[TrainResult]:
    """Deterministic k-fold cross-validation of the linear estimator:
    fold assignment is the portable hash of the row's feature tuple
    (``h64 % k``) — reproducible across runs, engines, and partitionings,
    unlike ``randomSplit`` (the same determinism contract as
    ``q_split_by_user``'s leakage-safe split). Returns one TrainResult
    per fold; the spread of fold AUCs is the variance estimate a single
    train/test split hides.

    Scale: each fold's train frame is a FILTER on the cached base frame
    (no data movement to form folds); k sequential fits reuse MLlib's
    distributed L-BFGS. The reference's train_and_evaluate
    (/root/reference/trainer.py:294-316) is the k=1 special case."""
    cols = [c for c in df.columns if c != label_col]
    fold_col = (h64(F.concat_ws("|", *[F.col(c).cast("string")
                                       for c in cols])) % k)
    base = df.withColumn("__fold", fold_col).cache()
    results = []
    try:
        for fold in range(k):
            tr = base.filter(F.col("__fold") != fold).drop("__fold")
            te = base.filter(F.col("__fold") == fold).drop("__fold")
            results.append(train_linear(tr, te, label_col=label_col,
                                        max_iter=max_iter))
    finally:
        base.unpersist()
    return results


def train_als_recommender(ratings: DataFrame, rank: int = 8,
                          max_iter: int = 8, reg: float = 0.1,
                          seed: int = 7):
    """Matrix-factorization recommender (ALS) over an implicit-feedback
    (user, item, strength) frame — the model-based sibling of the
    neighborhood methods in operators/basket.py (q_item_cf): q_item_cf
    serves exact item-kNN from co-occurrence, ALS generalizes to unseen
    pairs through a low-rank embedding. MLlib's ALS is the distributed
    blocked alternating-least-squares (user/item factor blocks shuffled
    alternately — each iteration is two co-partitioned joins, no
    all-pairs stage), which is the 100 TB-shaped factorization.

    Returns (model, rmse_on_train). Seeded, and evaluation is on the
    deterministic input frame, so the metric is reproducible run-to-run
    on a fixed partitioning (MLlib ALS init is seed-stable)."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.recommendation import ALS
    als = ALS(rank=rank, maxIter=max_iter, regParam=reg, seed=seed,
              userCol="user", itemCol="item", ratingCol="strength",
              implicitPrefs=False, coldStartStrategy="drop",
              nonnegative=True)
    model = als.fit(ratings)
    pred = model.transform(ratings)
    rmse = RegressionEvaluator(
        metricName="rmse", labelCol="strength",
        predictionCol="prediction").evaluate(pred)
    return model, rmse


def purchase_strength_frame(spark, sf_dir: str) -> DataFrame:
    """(user, item, strength) from orders×lineitem: strength = distinct
    orders in which the customer bought the part (bounded small ints —
    the implicit-feedback co-occurrence signal q_copurchase mines)."""
    from columnar_estimator_sample_spark.sources.tables import table
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").cast("int").alias("user"))
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_partkey").cast("int").alias("item"))
    return (li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("user", "item")
            .agg(F.countDistinct("l_orderkey").cast("float")
                 .alias("strength")))


def permutation_importance(df: DataFrame, label_col: str = "label",
                           max_iter: int = 20) -> dict[str, float]:
    """Permutation feature importance with a DETERMINISTIC permutation:
    importance(f) = AUC(model) − AUC(model on data with column f
    permuted). Instead of an RNG shuffle (irreproducible across runs /
    partitionings), each feature column is rotated by one position in
    portable-hash order — a fixed derangement expressible as a window
    ``lead`` with wraparound, so the same rows swap values on every
    engine and every run. Breaking the row-wise association between f
    and the label while preserving f's marginal distribution is all the
    estimator needs (Breiman 2001); which derangement is used doesn't
    matter.

    Scale: ONE model fit; each feature costs one window pass (hash-order
    exchange shared across features via the same sort key) plus one
    model.transform — no retraining per feature."""
    from pyspark.sql.window import Window as W
    buckets = measure_buckets(df)
    base, cols = build_features(df, label_col, buckets=buckets)
    asm = VectorAssembler(inputCols=cols, outputCol="features")
    lr = LogisticRegression(featuresCol="features", labelCol=label_col,
                            maxIter=max_iter)
    model = lr.fit(asm.transform(base))
    ev = BinaryClassificationEvaluator(
        labelCol=label_col, rawPredictionCol="rawPrediction")
    base_auc = ev.evaluate(model.transform(asm.transform(base)))
    hashed = base.withColumn(
        "__h", F.xxhash64(*[F.col(c) for c in cols], F.col(label_col)))
    order = W.orderBy("__h")
    out: dict[str, float] = {}
    for c in cols:
        rotated = (hashed
                   .withColumn(c, F.coalesce(
                       F.lead(c, 1).over(order),
                       F.first(c).over(
                           order.rowsBetween(W.unboundedPreceding,
                                             W.unboundedFollowing))))
                   .drop("__h"))
        auc = ev.evaluate(model.transform(asm.transform(rotated)))
        out[c] = base_auc - auc
    return out
