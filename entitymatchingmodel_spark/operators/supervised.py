"""Supervised candidate scoring — Spark-ML-native.

Reference: sklearn Pipeline + XGBoost trained on the driver, scored via a
grouped pandas UDF that requires manual partition pinning and AQE disabled
(emm/supervised_model/spark_supervised_model.py:221-264, SURVEY §4 X6).

Spark-first redesign: features are native Column expressions (features.py),
the classifier is ``pyspark.ml``'s GBTClassifier — fit AND scoring stay on
the JVM, distributed, with no partitioning contract at all (rank features are
window functions, not grouped-pandas).  AQE stays on.

Best-match selection (ref spark_supervised_model.py:266-303): one window —
``best_rank = row_number() over (partition by uid order by round(nm_score,5)
desc, gt_uid desc)``; ``best_match = best_rank==1 AND nm_score notnull``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from entitymatchingmodel_spark.operators.features import (
    PAIR_FEATURES,
    RANK_FEATURES,
    VOCAB_FEATURES,
    extra_equality_feature,
    fit_vocab_tiers,
    lef_features,
    pair_features,
    rank_features,
    vocabulary_features,
)


def best_match(
    df: DataFrame,
    score_col: str = "nm_score",
    uid_col: str = "uid",
) -> DataFrame:
    w = Window.partitionBy(uid_col).orderBy(
        F.desc_nulls_last(F.round(F.col(score_col), 5)), F.desc_nulls_last("gt_uid")
    )
    return df.withColumn("best_rank", F.row_number().over(w).cast("int")).withColumn(
        "best_match",
        (F.col("best_rank") == 1)
        & F.col(score_col).isNotNull()
        & (F.col(score_col) > 0),
    )


class SupervisedModel:
    def __init__(
        self,
        ml_model,
        feature_cols: list[str],
        score_col_in: str,
        vocab_tiers: DataFrame | None = None,
        row_keys: tuple[str, ...] = ("uid", "gt_uid"),
        extra_cols: tuple[str, ...] = (),
        use_lef: bool = False,
    ):
        """``vocab_tiers`` (a ``(token, tier)`` DataFrame from
        :func:`fit_vocab_tiers`) turns on the vocabulary features — the
        tier table stays distributed and is joined, never inlined as a
        literal array.  ``row_keys`` must uniquely identify candidate rows
        (used to join the tier counts back)."""
        self.ml_model = ml_model
        self.feature_cols = feature_cols
        self.score_col_in = score_col_in
        self.vocab_tiers = vocab_tiers
        self.row_keys = tuple(row_keys)
        self.extra_cols = tuple(extra_cols)
        self.use_lef = use_lef

    def _featurize(self, cands: DataFrame) -> DataFrame:
        out = pair_features(cands)
        out = rank_features(out, self.score_col_in)
        if self.vocab_tiers is not None:
            out = vocabulary_features(out, self.vocab_tiers, list(self.row_keys))
        for c in self.extra_cols:
            out = extra_equality_feature(out, c)
        if self.use_lef:
            out = lef_features(out)
        return out

    def transform(
        self,
        cands: DataFrame,
        return_sm_features: bool = False,
        score_col_out: str = "nm_score",
        with_best_match: bool = True,
    ) -> DataFrame:
        """Score candidates; with ``return_sm_features`` the f_* feature
        columns are kept in the output (ref spark_supervised_model.py:190-219
        M8 feature pass-through).  ``score_col_out``/``with_best_match``
        support multiple named models (ref base_entity_matching.py:73-152
        M9): secondary models add their score column only — exactly one
        model drives best_rank/best_match."""
        from pyspark.ml.functions import vector_to_array

        matched = self._featurize(cands)
        feats = [F.coalesce(F.col(c), F.lit(0.0)).alias(c) for c in self.feature_cols]
        assembled = self._assemble(matched, feats)
        scored = self.ml_model.transform(assembled)
        scored = scored.withColumn(
            score_col_out,
            F.when(
                F.col("gt_uid").isNotNull(),
                F.element_at(vector_to_array("probability"), 2),
            ),
        ).drop("features", "rawPrediction", "probability", "prediction")
        if not return_sm_features:
            scored = scored.drop(*[c for c in scored.columns if c.startswith("f_")])
        if not with_best_match:
            return scored
        return best_match(scored, score_col_out)

    def unpersist_vocab_tiers(self) -> None:
        """Release the cached tier table a tiers-based fit handed over;
        no-op for vocabulary-less models."""
        if self.vocab_tiers is not None:
            self.vocab_tiers.unpersist()

    @staticmethod
    def _assemble(df: DataFrame, feats) -> DataFrame:
        from pyspark.ml.feature import VectorAssembler

        tmp = df.withColumns({f"_a_{i}": c for i, c in enumerate(feats)})
        va = VectorAssembler(
            inputCols=[f"_a_{i}" for i in range(len(feats))], outputCol="features"
        )
        out = va.transform(tmp)
        return out.drop(*[f"_a_{i}" for i in range(len(feats))])


class SupervisedScorer:
    """Estimator: fit(labelled candidates) -> SupervisedModel.

    Label: ``correct = entity_id == gt_entity_id`` (ref prepare_name_pairs.py
    :96) — computed here, so the input only needs both id columns.
    """

    def __init__(
        self,
        score_col: str = "score_0",
        max_iter: int = 20,
        max_depth: int = 4,
        seed: int = 42,
        with_vocabulary: bool = False,
        vocabulary_min_df: tuple[float, float] = (0.01, 0.0001),
        extra_cols: tuple[str, ...] = (),
        use_lef: bool = False,
    ):
        self.score_col = score_col
        self.max_iter = max_iter
        self.max_depth = max_depth
        self.seed = seed
        self.with_vocabulary = with_vocabulary
        self.vocabulary_min_df = vocabulary_min_df
        self.extra_cols = tuple(extra_cols)
        self.use_lef = use_lef

    def fit(self, cands: DataFrame) -> SupervisedModel:
        from pyspark.ml.classification import GBTClassifier

        tiers = None
        persisted = None
        if self.with_vocabulary:
            # Two passes over the candidate lineage (vocabulary df-agg, then
            # featurize) — persist so candidate selection isn't recomputed
            # (the reference checkpoints here for the same reason, SURVEY §4
            # X9 / spark_candidate_selection.py:267-272).
            persisted = cands = cands.persist()
            # No-collect tier fit: the token tier table stays a (persisted)
            # DataFrame end to end — unlike the reference, which fits a
            # driver-side sklearn vectorizer (features_vocabulary.py), no
            # token list ever reaches the driver here.  The tiers cache is
            # handed to the model, which re-joins it on every transform;
            # call model.unpersist_vocab_tiers() when done scoring.
            tiers = fit_vocab_tiers(
                cands,
                ["preprocessed", "gt_preprocessed"],
                very_common_min_df=self.vocabulary_min_df[0],
                common_min_df=self.vocabulary_min_df[1],
            ).persist()
        feature_cols = PAIR_FEATURES + RANK_FEATURES
        if tiers is not None:
            feature_cols = feature_cols + VOCAB_FEATURES
        feature_cols = feature_cols + [f"f_{c}_match" for c in self.extra_cols]
        if self.use_lef:
            feature_cols = feature_cols + ["f_lef_score"]
        model = SupervisedModel(
            None, feature_cols, self.score_col,
            vocab_tiers=tiers, extra_cols=self.extra_cols, use_lef=self.use_lef,
        )
        train = model._featurize(
            cands.filter(F.col("gt_uid").isNotNull() & F.col("entity_id").isNotNull())
        ).withColumn(
            "label",
            (F.col("entity_id") == F.col("gt_entity_id")).cast("double"),
        )
        feats = [F.coalesce(F.col(c), F.lit(0.0)).alias(c) for c in feature_cols]
        # Persist: boosting iterates over the training frame; without this
        # every iteration recomputes the candidate-join lineage.
        assembled = SupervisedModel._assemble(train, feats).persist()
        # Size partitions to the (usually downsampled) training set: boosting
        # launches several stages per iteration, so thousands of near-empty
        # tasks per tree are pure scheduler overhead.  ~100k rows/partition
        # keeps a 10M-row training set at ~100 partitions on a cluster and
        # collapses a 20k-row local set to the floor.
        n = assembled.count()
        target = max(4, min(assembled.rdd.getNumPartitions(), n // 100_000 + 4))
        sized = assembled
        if target < assembled.rdd.getNumPartitions():
            sized = assembled.coalesce(target).persist()
            sized.count()
        gbt = GBTClassifier(
            maxIter=self.max_iter,
            maxDepth=self.max_depth,
            seed=self.seed,
            labelCol="label",
            featuresCol="features",
        )
        try:
            model.ml_model = gbt.fit(sized)
        finally:
            if sized is not assembled:
                sized.unpersist()
            assembled.unpersist()
            if persisted is not None:
                persisted.unpersist()
        return model
