"""Batch training-data curation: the offline twin of the streaming
ingestion front-door (:func:`streaming.curate.curate_stream`).

Same stage list, same order, same config vocabulary — a pipeline
developed against the batch corpus moves to the ingest stream (or back)
by switching ONE call, which is how production curation actually runs:
the recipe is tuned offline on a frozen crawl slice, then deployed
online.  Stage order follows C4's cheapest-first composition (Raffel et
al. 2020 §2.2) extended one step: URL dedup first (cheapest key), the
cheap per-page screens next (quality, C4 line/page rules, badwords —
the dedup then hashes the CLEANED text), content-level exact dedup, and
the EXPENSIVE scorers (trigram language ID, LM perplexity, DSIR
target-likeness) only on the deduped representatives — result-identical
because all three scorers normalize case/edge whitespace exactly like
the content hash, and strictly cheaper (each unique content scores
once).

Batch-idiomatic internals where they differ from the stream: the LM and
DSIR gates use the JVM-side batch scorers (explode -> broadcast join ->
one per-doc rollup; :meth:`operators.lm.BigramLM.score`,
:func:`functions.selection.dsir_scores`) joined back on the id — the
stream must use the stateless Arrow-projection scorers because a per-doc
aggregation is illegal mid-query in append mode, and both pairs are
pinned exactly equal in tests.  Dedup keeps the deterministic min-id
representative (one min-struct aggregate, viral-duplicate-skew-proof)
instead of the stream's arrival-order row.

No reference counterpart (beyond-reference surface): the reference
engine has no corpus-curation story.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _rw_stage(
    s: DataFrame,
    text_col: str,
    max_upper_frac: "float | None",
    max_removed_frac: "float | None",
) -> DataFrame:
    """The RefinedWeb line-correction stage, shared verbatim by
    curate_batch and curate_stream (both call it on their running
    frame): rewrite the page to its surviving lines, drop pages whose
    removed lines exceed the character budget.  Stateless HOF/regex
    expressions only — append-safe on a stream, map-only in batch."""
    from entitymatchingmodel_spark.functions.text import (
        RW_COUNTER_WORDS,
        RW_MAX_REMOVED_FRAC,
        RW_MAX_UPPER_FRAC,
        _rw_validate,
        refinedweb_kept_lines,
        refinedweb_page_keep,
    )

    upper = RW_MAX_UPPER_FRAC if max_upper_frac is None else max_upper_frac
    removed = (
        RW_MAX_REMOVED_FRAC if max_removed_frac is None else max_removed_frac
    )
    _rw_validate(upper, removed, RW_COUNTER_WORDS)
    if "_rw_kept" in s.columns:
        # same guard as dedup_against_index's _emm_ch: silently
        # overwriting-then-dropping a caller's column corrupts user data
        raise ValueError(
            "input already has a '_rw_kept' column, which the RefinedWeb "
            "stage uses as a temp; rename it first"
        )
    kept = F.array_join(refinedweb_kept_lines(F.col(text_col), upper), "\n")
    return (
        s.withColumn("_rw_kept", kept)
        .filter(refinedweb_page_keep(F.col(text_col), F.col("_rw_kept"),
                                     removed))
        .withColumn(text_col, F.col("_rw_kept"))
        .drop("_rw_kept")
    )


def curate_batch(
    df: DataFrame,
    id_col: str,
    text_col: str,
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    url_col: str | None = None,
    lm_model=None,
    max_perplexity: float | None = None,
    blocklist: "tuple[str, ...] | None" = None,
    dsir_ratios: DataFrame | None = None,
    min_dsir: float | None = None,
    dsir_n_buckets: "int | None" = None,
    c4_clean: bool = False,
    c4_min_words_per_line: int = 5,
    c4_min_sentences: int = 5,
    rw_clean: bool = False,
    rw_max_upper_frac: "float | None" = None,
    rw_max_removed_frac: "float | None" = None,
) -> DataFrame:
    """Curate a batch corpus with the SAME stages and config vocabulary
    as :func:`streaming.curate.curate_stream` — see the module docstring
    for the batch/stream symmetry contract.

    Stages, in order, each skipped when its config is unset:

    1. **URL dedup** (``url_col``): keep the min-``id_col`` row per
       normalized URL (:func:`operators.dedup.drop_url_duplicates`);
       NULL-URL rows are all kept.  Adds ``url_norm``.
    2. **Quality filter**: ``quality_score >= min_quality``; adds
       ``quality`` (computed on the pre-C4 raw text, like the stream).
    3. **C4 rules** (``c4_clean=True``): the page text is REWRITTEN to
       its retained lines and pages failing the lorem-ipsum /
       curly-brace / min-sentence rules are dropped
       (:func:`functions.text.c4_retained_lines` / ``c4_page_keep``).
    3b. **RefinedWeb line corrections** (``rw_clean=True``): drop
       uppercase-dominated / numeric-only / counter / one-word lines
       and REWRITE the page to the survivors; drop the page when the
       removed lines exceed ``rw_max_removed_frac`` of its characters
       (:func:`functions.text.refinedweb_kept_lines` /
       ``refinedweb_page_keep`` — integer micro-unit thresholds).
       Composes with ``c4_clean`` (C4 first, its published order).
    4. **Badwords** (``blocklist``): drop pages with any blocked-token
       occurrence (the :func:`functions.text.blocked_terms_table`
       literal shape, inlined — map-only codegen isin probe).
    5. **Exact content dedup**: min-``id_col`` representative per
       normalized cleaned text (ONE min-struct aggregate).  Adds
       ``content_hash``.
    6. **Language filter**: the Arrow-batched char-trigram kernel
       (:func:`functions.text.lang_id_kernel`) projected as ``lang`` over
       the (cleaned) deduped representative text; ``langs=()`` keeps
       every language (column still added).
    7. **LM perplexity gate** (``lm_model`` + ``max_perplexity``): the
       batch scorer joined back on ``id_col``; rows scoring above the
       cap — or unscorable (<2 tokens), which CCNet drops as garbage —
       are filtered.  Adds ``n_bigrams``/``avg_logp``/``perplexity``.
    8. **DSIR gate** (``dsir_ratios`` + ``min_dsir``): batch scores
       joined back on ``id_col``; rows below ``min_dsir`` or zero-gram
       rows are dropped.  Adds ``n_grams``/``dsir_logratio``.

    Stages 1-4 and 6 are projections/filters (map-only, push to the
    scan); the only shuffles are the two dedup aggregates and the
    bounded LM/DSIR scorer rollups.  ``id_col`` must be unique (it
    picks dedup representatives and keys the scorer joins).

    """
    if df.isStreaming:
        raise ValueError(
            "curate_batch requires a batch DataFrame; use "
            "streaming.curate.curate_stream for streams"
        )
    if (lm_model is None) != (max_perplexity is None):
        raise ValueError("lm_model and max_perplexity must be set together")
    if (dsir_ratios is None) != (min_dsir is None):
        raise ValueError("dsir_ratios and min_dsir must be set together")

    from entitymatchingmodel_spark.functions.text import (
        lang_id_kernel,
        quality_score,
    )

    s = df
    if url_col is not None:
        from entitymatchingmodel_spark.functions.web import url_normalize
        from entitymatchingmodel_spark.operators.dedup import (
            drop_url_duplicates,
        )

        s = drop_url_duplicates(s, id_col, url_col).withColumn(
            "url_norm", url_normalize(F.col(url_col))
        )
    # stage-order economics (shared with curate_stream): cheap per-page
    # screens first, content dedup next, the expensive scorers (trigram
    # lang, LM, DSIR) only on the deduped representatives — result-
    # identical because all three scorers normalize case/edge whitespace
    # exactly like the content hash (every duplicate-group member scores
    # the same), and strictly cheaper: each unique content scores once.
    s = s.withColumn("quality", quality_score(F.col(text_col))).filter(
        F.col("quality") >= min_quality
    )
    if c4_clean:
        from entitymatchingmodel_spark.functions.text import (
            C4_POLICY_PHRASES,
            _c4_validate,
            c4_page_keep,
            c4_retained_lines,
        )

        _c4_validate(c4_min_words_per_line, c4_min_sentences,
                     C4_POLICY_PHRASES)
        if "_c4_kept" in s.columns:
            raise ValueError(
                "input already has a '_c4_kept' column, which the C4 "
                "stage uses as a temp; rename it first"
            )
        kept = F.array_join(
            c4_retained_lines(F.col(text_col), c4_min_words_per_line),
            "\n",
        )
        s = (
            s.withColumn("_c4_kept", kept)
            .filter(c4_page_keep(F.col(text_col), F.col("_c4_kept"),
                                 c4_min_sentences))
            .withColumn(text_col, F.col("_c4_kept"))
            .drop("_c4_kept")
        )
    if rw_clean:
        s = _rw_stage(s, text_col, rw_max_upper_frac, rw_max_removed_frac)
    elif rw_max_upper_frac is not None or rw_max_removed_frac is not None:
        raise ValueError("rw_max_* thresholds require rw_clean=True")
    if blocklist:
        from entitymatchingmodel_spark.functions.tokenize import word_tokens

        bad = list(blocklist)
        probe = [t for t in bad if not t or t != t.lower() or not t.isascii()]
        if probe:
            raise ValueError(
                f"blocklist terms must be lowercase ascii tokens; got {probe[:5]!r}"
            )
        toks = word_tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
        s = s.filter(F.size(F.filter(toks, lambda t: t.isin(*bad))) == 0)
    from entitymatchingmodel_spark.operators.dedup import (
        drop_exact_duplicates,
    )

    s = drop_exact_duplicates(s, id_col, text_col).withColumn(
        "content_hash", F.md5(F.trim(F.lower(F.col(text_col))))
    )
    # scored on the deduped representatives only; the kernel's
    # ArrowEvalPython node is its own stage, so the JVM screens above
    # codegen cleanly regardless of dictionary size
    s = s.withColumn("lang", lang_id_kernel(F.col(text_col)))
    if langs:
        s = s.filter(F.col("lang").isin(*langs))
    if lm_model is not None:
        scores = lm_model.score(s, id_col, text_col)
        s = s.join(scores, id_col).filter(
            F.col("perplexity") <= float(max_perplexity)
        )
    if dsir_ratios is not None:
        from entitymatchingmodel_spark.functions.selection import dsir_scores

        ds = dsir_scores(s, dsir_ratios, id_col, text_col,
                         n_buckets=dsir_n_buckets)
        s = s.join(ds, id_col).filter(
            F.col("dsir_logratio") >= float(min_dsir)
        )
    return s
