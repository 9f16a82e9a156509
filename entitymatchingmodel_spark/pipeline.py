"""SparkEntityMatching — the top-level fit/transform pipeline.

API parity with the reference (emm/pipeline/spark_entity_matching.py:56-339):
4 stages — preprocess, candidate selection (N indexers), optional supervised
scoring, optional account aggregation — configured by a parameters dict with
the same vocabulary (indexer specs, column-name remapping, thresholds).

Spark-first differences (each justified in the operator modules):
- deterministic content-hash uids (no checkpoint; schema.py)
- cosine top-k as a Catalyst inverted-index join (no driver collect;
  cossim_indexer.py)
- SNI global rank via range partitioning (no zipWithIndex; sni_indexer.py)
- rank features & best-match as window functions, AQE stays ON
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entitymatchingmodel_spark import schema as S
from entitymatchingmodel_spark.operators import candidate_selection as CS
from entitymatchingmodel_spark.operators.cossim_indexer import (
    CosSimIndexer,
    first_char_block,
)
from entitymatchingmodel_spark.operators.preprocessor import Preprocessor
from entitymatchingmodel_spark.operators.sni_indexer import SNIIndexer

DEFAULT_INDEXERS = [
    {"type": "cosine_similarity", "tokenizer": "words", "ngram": 1,
     "num_candidates": 10, "cos_sim_lower_bound": 0.5},
    {"type": "cosine_similarity", "tokenizer": "characters", "ngram": 2,
     "num_candidates": 10, "cos_sim_lower_bound": 0.5,
     "blocking_func": "first_char"},
    {"type": "sni", "window_length": 3},
]

_BLOCKING = {"first_char": first_char_block, None: None}
_SNI_MAPPING: dict = {None: None}


def _register(registry: dict, what: str, name: str, fn) -> None:
    if not isinstance(name, str) or not name:
        raise ValueError(f"{what} name must be a non-empty string, got {name!r}")
    if not callable(fn):
        raise ValueError(f"{what} {name!r} must be callable, got {type(fn)}")
    if name in registry and registry[name] is not fn:
        raise ValueError(
            f"{what} name {name!r} is already registered to a different "
            "function; pick another name"
        )
    registry[name] = fn


def register_blocking_func(name: str, fn) -> None:
    """Register a user blocking function (Column -> Column) under a stable
    name, so indexer specs can reference it as a string — or pass the
    callable directly — and fitted models PERSIST AND LOAD it by name.

    Persistence refuses raw unregistered callables by design: a pickled
    closure is neither auditable nor stable across environments (the
    reference joblib-pickles arbitrary user objects,
    spark_custom_reader_writer.py:70-140 — convenient, but a model file
    that executes whatever was pickled into it).  The name IS the
    contract: re-register the same name before :func:`~entitymatching
    model_spark.persistence.load_model` in a new session, and loading
    fails fast with the missing name otherwise.  Registering the same
    (name, fn) pair twice is a no-op; rebinding a name raises.
    """
    _register(_BLOCKING, "blocking_func", name, fn)


def register_sni_mapping_func(name: str, fn) -> None:
    """Register a user SNI sort-key mapping (Column -> Column, e.g.
    ``F.reverse``/soundex) under a stable name — same persist-by-name
    contract as :func:`register_blocking_func`."""
    _register(_SNI_MAPPING, "mapping_func", name, fn)


def _resolve(registry: dict, what: str, value):
    if isinstance(value, str):
        try:
            return registry[value]
        except KeyError:
            raise ValueError(
                f"unknown {what} {value!r}; register it first with "
                f"register_{'blocking_func' if what == 'blocking_func' else 'sni_mapping_func'}({value!r}, fn)"
            ) from None
    return value


def _build_indexer(spec):
    if hasattr(spec, "fit"):  # custom indexer object (ref spark_entity_matching.py:190-192)
        return spec
    kind = spec.get("type", "cosine_similarity")
    if kind == "cosine_similarity":
        bf = _resolve(_BLOCKING, "blocking_func", spec.get("blocking_func"))
        return CosSimIndexer(
            tokenizer=spec.get("tokenizer", "words"),
            ngram=spec.get("ngram", 1),
            k=spec.get("num_candidates", 10),
            lower_bound=spec.get("cos_sim_lower_bound", 0.5),
            blocking_func=bf,
            binary=spec.get("binary_countvectorizer", True),
            max_vocab=spec.get("max_features", 2**25),
            max_df_frac=spec.get("max_df_frac"),
            strategy=spec.get("strategy", "inverted"),
        )
    if kind == "sni":
        return SNIIndexer(
            window_length=spec.get("window_length", 3),
            topn_per_name=spec.get("topn_per_name", 10),
            mapping_func=_resolve(
                _SNI_MAPPING, "mapping_func", spec.get("mapping_func")
            ),
        )
    if kind == "naive":
        from entitymatchingmodel_spark.operators.naive_indexer import NaiveIndexer

        return NaiveIndexer(max_pairs=spec.get("max_pairs", 10_000_000))
    raise ValueError(f"unknown indexer type {kind!r}")


class SparkEntityMatching:
    def __init__(self, parameters: dict[str, Any] | None = None, **kwargs):
        p = dict(parameters or {})
        p.update(kwargs)
        self.p = p
        self.preprocessor = Preprocessor(p.get("preprocessor", "preprocess_merge_abbr"))
        self.indexer_specs = p.get("indexers", DEFAULT_INDEXERS)
        self.supervised_on = p.get("supervised_on", False)
        self.aggregation_layer = p.get("aggregation_layer", False)
        self.aggregation_method = p.get("aggregation_method", "max_frequency_nm_score")
        self.with_no_matches = p.get("with_no_matches", True)
        self.keep_all_cols = p.get("keep_all_cols", False)
        self.gt_cols = {
            "name_col": p.get("name_col", "name"),
            "entity_id_col": p.get("entity_id_col", "id"),
            "uid_col": p.get("uid_col"),
            "country_col": p.get("country_col"),
        }
        self.carry_on_cols = p.get("carry_on_cols", [])
        # ref base_entity_matching.py parameter of the same name: adds the
        # legal-entity-form feature to the supervised layer
        self.with_legal_entity_forms_match = p.get(
            "with_legal_entity_forms_match", False
        )
        # Target rows/partition for input sizing (ref parameters.py:48,
        # spark_utils.py:63-76 auto_repartitioning; SURVEY §4 X7).
        self.partition_size = p.get("partition_size", 5000)
        # fitted state
        self.gt_: DataFrame | None = None
        self.indexer_models_: dict[str, Any] = {}
        self.supervised_model_ = None
        # M9 (ref base_entity_matching.py:73-152): additional named models,
        # each adding a score column nm_score_<name>; the primary
        # supervised_model_ drives best_rank/best_match.
        self.extra_supervised_models_: dict[str, Any] = {}
        # preprocessed names of the latest transform (one rotating cache)
        self._names_cache: DataFrame | None = None

    def _release_names(self) -> None:
        if self._names_cache is not None:
            self._names_cache.unpersist()
            self._names_cache = None

    def unpersist(self) -> None:
        """Release all cached fitted state (GT table, indexer indexes,
        broadcasts) and the latest transform's preprocessed names.  Called
        automatically at the top of :meth:`fit` so re-fitting never leaks
        executor memory — the reference documents the
        leak and suggests restarting the session (spark_entity_matching.py:
        682-691, SURVEY §4 X14); here the handles are managed."""
        self._release_names()
        if self.gt_ is not None:
            self.gt_.unpersist()
            self.gt_ = None
        for m in self.indexer_models_.values():
            if hasattr(m, "unpersist"):
                m.unpersist()
        self.indexer_models_ = {}

    def _promote(self, df) -> DataFrame:
        """pandas -> Spark promotion (ref spark_entity_matching.py:267-269)."""
        if isinstance(df, DataFrame):
            return df
        import pandas as pd

        if isinstance(df, pd.DataFrame):
            from pyspark.sql import SparkSession

            return SparkSession.active().createDataFrame(df)
        raise TypeError(f"expected Spark or pandas DataFrame, got {type(df)!r}")

    def _auto_repartition(self, df: DataFrame) -> DataFrame:
        """Size partitions to ~partition_size rows (ref spark_utils.py:63-76).

        Uses a cheap countApprox-style estimate from the first action; here
        rdd.countApprox is avoided (extra job) — instead rely on the
        current partition count and only repartition when way off."""
        if not self.partition_size or df.isStreaming:
            return df
        n = df.rdd.countApprox(timeout=1000, confidence=0.9)
        target = max(1, int(n / self.partition_size))
        current = df.rdd.getNumPartitions()
        if target > current * 2 or target < current // 2:
            return df.repartition(target)
        return df

    # ---------------------------------------------------------------- fit
    def fit(self, gt_df) -> "SparkEntityMatching":
        self.unpersist()  # re-fit must not leak prior state (SURVEY §4 X14)
        gt_df = self._promote(gt_df)
        gt = S.normalize_columns(
            gt_df,
            name_col=self.gt_cols["name_col"],
            entity_id_col=self.gt_cols["entity_id_col"],
            uid_col=self.gt_cols["uid_col"],
            country_col=self.gt_cols["country_col"],
            carry_on_cols=[c for c in self.carry_on_cols if c in gt_df.columns],
        )
        gt = S.with_uid(gt)
        if self.p.get("auto_repartition", False):
            gt = self._auto_repartition(gt)
        gt = self.preprocessor.transform(gt)
        gt = S.prefix_gt(gt)  # uid->gt_uid, name->gt_name, ...
        gt = gt.withColumnRenamed(S.GT_PREFIX + S.PREPROCESSED, "gt_preprocessed")
        # Indexers consume the canonical preprocessed column name.
        gt_for_idx = gt.withColumn(S.PREPROCESSED, F.col("gt_preprocessed"))
        self.gt_ = gt.persist()
        self.indexer_models_ = {}
        for i, spec in enumerate(self.indexer_specs):
            idx = _build_indexer(spec)
            kind = spec.get("type", "cos") if isinstance(spec, dict) else type(spec).__name__
            self.indexer_models_[f"{kind}_{i}"] = idx.fit(gt_for_idx)
        return self

    # ---------------------------------------------------------- transform
    def transform(self, names_df) -> DataFrame:
        """Match ``names_df`` against the fitted GT.  Lazy: runs no Spark job
        (unless ``auto_repartition`` is set).

        The preprocessed names feed every indexer and ``attach_names``, so
        they are persisted once and computed by the first action on the
        result.  That cache lives until the next :meth:`transform` (or
        :meth:`fit`) or :meth:`unpersist`; a result executed after its cache
        was released recomputes the names from lineage.
        """
        if not self.indexer_models_:
            raise RuntimeError("transform() called before fit(); fit a ground-truth table first")
        names_df = self._promote(names_df)
        p = self.p

        def _opt(key: str, default: str | None = None, canonical: str | None = None) -> str | None:
            col = p.get(key, default)
            if col in names_df.columns:
                return col
            # A frame already using the canonical name is accepted as-is
            # (ref util.py:34-60 renames are no-ops in that case); without
            # this the column would be silently dropped.
            if canonical and canonical in names_df.columns:
                return canonical
            return None

        names = S.normalize_columns(
            names_df,
            name_col=p.get("name_col", "name"),
            entity_id_col=_opt("entity_id_col", "id", S.ENTITY_ID),
            uid_col=_opt("uid_col", None, S.UID),
            country_col=_opt("country_col", None, S.COUNTRY),
            account_col=_opt("account_col", "account", S.ACCOUNT),
            freq_col=_opt("freq_col", S.FREQ, S.FREQ),
            carry_on_cols=[c for c in self.carry_on_cols if c in names_df.columns],
        )
        names = S.with_uid(names)
        if self.p.get("auto_repartition", False):
            names = self._auto_repartition(names)
        # Release the previous names frame BEFORE persisting this one: the
        # CacheManager matches plans structurally, so for an identical batch
        # persist-then-unpersist would drop the shared entry.  The cache is
        # hash-partitioned by uid, so the indexers' per-uid aggregates and
        # windows and attach_names' join read it without another exchange
        # (an unpartitioned cache costs each of them a shuffle).
        self._release_names()
        names = self._names_cache = (
            self.preprocessor.transform(names).repartition(S.UID).persist()
        )
        per_indexer = {
            iname: model.transform(names)
            for iname, model in self.indexer_models_.items()
        }
        cands = CS.combine_candidates(per_indexer)
        cands = CS.attach_gt_info(cands, self.gt_)
        out = CS.attach_names(cands, names, self.with_no_matches)
        if self.supervised_on and (
            self.supervised_model_ is not None or self.extra_supervised_models_
        ):
            if self.supervised_model_ is not None:
                out = self.supervised_model_.transform(
                    out, return_sm_features=p.get("return_sm_features", False)
                )
            for mname, m in self.extra_supervised_models_.items():
                out = m.transform(
                    out, score_col_out=f"nm_score_{mname}", with_best_match=False
                )
        if self.aggregation_layer:
            if callable(self.aggregation_layer):
                # custom aggregation object/callable (ref spark_entity_matching
                # .py:626-680 extension point)
                out = self.aggregation_layer(out)
            else:
                from entitymatchingmodel_spark.operators.aggregation import aggregate_accounts

                extra = tuple(
                    c for c in p.get("aggregation_extra_group_cols", ("positive_set",))
                    if c in out.columns
                )
                out = aggregate_accounts(
                    out,
                    method=self.aggregation_method,
                    score_col=p.get("aggregation_score_col", "nm_score" if self.supervised_on else "score_0"),
                    extra_group_cols=extra,
                )
        top_n = p.get("top_n")
        if top_n and "best_rank" in out.columns:
            # P3/O4 (ref spark_entity_matching.py:336-338)
            out = out.filter(
                (F.col("best_rank") <= top_n) & F.col("gt_uid").isNotNull()
            )
        if not self.keep_all_cols:
            drop = [c for c in out.columns if c in ("tokens", "tf", "idf")]
            out = out.drop(*drop)
        return out

    # ---------------------------------------------- supervised layer hooks
    def create_training_name_pairs(
        self, names_df: DataFrame, fraction_positive: float = 0.5, seed: int = 42
    ) -> DataFrame:
        """Labelled positive/negative training pairs (SURVEY §2.10 M10):
        widened-window transform, entity-level split, per-indexer negative
        reranking — all distributed (operators/training.py)."""
        from entitymatchingmodel_spark.operators.training import create_training_pairs

        return create_training_pairs(
            self, names_df, fraction_positive=fraction_positive, seed=seed
        )

    def fit_classifier(
        self,
        names_df: DataFrame,
        create_negative_sample_fraction: float = 0.0,
        seed: int = 42,
        name: str | None = None,
        **kw,
    ) -> "SparkEntityMatching":
        """Train the supervised layer.

        With ``create_negative_sample_fraction > 0`` the training set goes
        through the full M10 prep (negative sampling + rerank); otherwise
        candidates of a plain transform are labelled directly.

        ``name`` registers an ADDITIONAL named model (SURVEY §2.10 M9):
        its scores appear as ``nm_score_<name>`` next to the primary model's
        ``nm_score``/``best_match``.
        """
        from entitymatchingmodel_spark.operators.supervised import SupervisedScorer

        if create_negative_sample_fraction > 0:
            cands = self.create_training_name_pairs(
                names_df,
                fraction_positive=1.0 - create_negative_sample_fraction,
                seed=seed,
            )
        else:
            prev = self.supervised_on
            self.supervised_on = False
            try:
                cands = self.transform(names_df)
            finally:
                self.supervised_on = prev
        kw.setdefault("use_lef", self.with_legal_entity_forms_match)
        scorer = SupervisedScorer(**kw)
        model = scorer.fit(cands)
        if name is None:
            self.supervised_model_ = model
        else:
            self.extra_supervised_models_[name] = model
        self.supervised_on = True
        return self
