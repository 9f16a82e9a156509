"""Layer instrumentation for the traced run, applied from outside the package.

``instrument`` swaps the public layer entry points for wrappers while the
traced pipeline runs and restores them afterwards.  Each wrapper runs the
original call inside a span (and so inside its own Spark job group), then
persists and counts the layer's output inside the same span: Spark is
lazy, so a layer's work only happens, and can only be timed, when its
output is forced.  The persisted frames feed the next layer and are
released by ``Instrumented.release``.

Layers and the calls they wrap:

- ``preprocessor``: ``Preprocessor.transform``
- ``cossim_indexer.{words,chars}.fit`` / ``.transform``: ``CosSimIndexer.fit``
  (which contains the TF-IDF fit) / ``CosSimIndexerModel.transform``
- ``sni_indexer.fit`` / ``.transform``: ``SNIIndexer.fit`` / ``SNIIndexerModel.transform``
- ``candidate_selection``: ``combine_candidates`` through ``attach_gt_info``
  to ``attach_names`` (one span from the first call to the last return)
- ``features``: ``pair_features`` through ``rank_features``
- ``supervised.fit`` / ``supervised.transform``: ``SupervisedScorer.fit`` /
  ``SupervisedModel.transform`` (features spans nest inside them)
- ``aggregation``: ``aggregate_accounts``
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, field

from entitymatchingmodel_spark.operators import aggregation, supervised
from entitymatchingmodel_spark.operators import candidate_selection as cs
from entitymatchingmodel_spark.operators.cossim_indexer import CosSimIndexer, CosSimIndexerModel
from entitymatchingmodel_spark.operators.preprocessor import Preprocessor
from entitymatchingmodel_spark.operators.sni_indexer import SNIIndexer, SNIIndexerModel

LAYERS = (
    "preprocessor",
    "cossim_indexer.words.fit", "cossim_indexer.words.transform",
    "cossim_indexer.chars.fit", "cossim_indexer.chars.transform",
    "sni_indexer.fit", "sni_indexer.transform",
    "candidate_selection", "features", "supervised.fit", "supervised.transform",
    "aggregation",
)
_TOKENIZER = {"words": "words", "characters": "chars"}


@dataclass
class Instrumented:
    """What the wrappers saw, for the ratios computed after the traced op."""

    persisted: list = field(default_factory=list)
    # (layer, names frame, fitted model, candidates out) per cosine transform
    cosine: list = field(default_factory=list)
    # (combined frame, rows from the indexers that fed it)
    combined: list = field(default_factory=list)
    indexer_rows: int = 0

    def release(self) -> None:
        for df in self.persisted:
            df.unpersist()
        self.persisted.clear()


@contextmanager
def instrument(tracer):
    seen = Instrumented()
    open_spans: list = []

    def force(span, df):
        df = df.persist()
        seen.persisted.append(df)
        span.rows_out = df.count()
        return df

    def open_span(name):
        cm = tracer.span(name)
        open_spans.append((cm, cm.__enter__()))

    def close_span():
        cm, _ = open_spans.pop()
        cm.__exit__(None, None, None)

    def preprocess(self, df):
        with tracer.span("preprocessor") as s:
            return force(s, orig[Preprocessor, "transform"](self, df))

    def cos_fit(self, gt):
        with tracer.span(f"cossim_indexer.{_TOKENIZER[self.tokenizer]}.fit") as s:
            model = orig[CosSimIndexer, "fit"](self, gt)
            model.tfidf.vocab.count()
            s.rows_out = model.gt_weights.count()
            return model

    def cos_transform(self, names):
        layer = f"cossim_indexer.{_TOKENIZER[self.tfidf.analyzer]}.transform"
        with tracer.span(layer) as s:
            out = force(s, orig[CosSimIndexerModel, "transform"](self, names))
        seen.cosine.append((layer, names, self, s.rows_out))
        seen.indexer_rows += s.rows_out
        return out

    def sni_fit(self, gt):
        with tracer.span("sni_indexer.fit") as s:
            model = orig[SNIIndexer, "fit"](self, gt)
            s.rows_out = model.gt_keyed.count()
            return model

    def sni_transform(self, names):
        with tracer.span("sni_indexer.transform") as s:
            out = force(s, orig[SNIIndexerModel, "transform"](self, names))
        seen.indexer_rows += s.rows_out
        return out

    def combine(per_indexer):
        open_span("candidate_selection")
        out = orig[cs, "combine_candidates"](per_indexer)
        seen.combined.append((out, seen.indexer_rows))
        seen.indexer_rows = 0
        return out

    def attach_names(cands, names, with_no_matches=True):
        try:
            return force(open_spans[-1][1], orig[cs, "attach_names"](cands, names, with_no_matches))
        finally:
            close_span()

    def pair_features(df, *a, **kw):
        open_span("features")
        return orig[supervised, "pair_features"](df, *a, **kw)

    def rank_features(df, *a, **kw):
        try:
            return force(open_spans[-1][1], orig[supervised, "rank_features"](df, *a, **kw))
        finally:
            close_span()

    def sup_fit(self, cands):
        with tracer.span("supervised.fit"):
            return orig[supervised.SupervisedScorer, "fit"](self, cands)

    def sup_transform(self, cands, *a, **kw):
        with tracer.span("supervised.transform") as s:
            return force(s, orig[supervised.SupervisedModel, "transform"](self, cands, *a, **kw))

    def aggregate(cands, *a, **kw):
        with tracer.span("aggregation") as s:
            return force(s, orig[aggregation, "aggregate_accounts"](cands, *a, **kw))

    wrappers = {
        (Preprocessor, "transform"): preprocess,
        (CosSimIndexer, "fit"): cos_fit,
        (CosSimIndexerModel, "transform"): cos_transform,
        (SNIIndexer, "fit"): sni_fit,
        (SNIIndexerModel, "transform"): sni_transform,
        (cs, "combine_candidates"): combine,
        (cs, "attach_names"): attach_names,
        (supervised, "pair_features"): pair_features,
        (supervised, "rank_features"): rank_features,
        (supervised.SupervisedScorer, "fit"): sup_fit,
        (supervised.SupervisedModel, "transform"): sup_transform,
        (aggregation, "aggregate_accounts"): aggregate,
    }
    orig = {key: getattr(*key) for key in wrappers}
    for (owner, attr), fn in wrappers.items():
        setattr(owner, attr, fn)
    try:
        yield seen
    finally:
        for (owner, attr), fn in orig.items():
            setattr(owner, attr, fn)
        while open_spans:
            close_span()
