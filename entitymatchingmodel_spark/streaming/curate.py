"""Streaming training-data curation: the ingestion front-door.

A 100 TB/day document firehose wants its cheap filters applied ON INGEST —
before anything is persisted — and its dedup state bounded.  This composes
the batch curation primitives into their streaming shape:

1. quality filter   — :func:`functions.text.quality_score`, a pure
   projection (stateless, append-safe);
2. exact dedup      — :func:`drop_exact_duplicates_stream`
   (``dropDuplicatesWithinWatermark``: one state row per content hash
   inside the late-data horizon, evicted behind the watermark);
3. language filter  — :func:`functions.text.lang_id_kernel`, a stateless
   Arrow-batched projection over the deduped survivors.

Only step 2 carries state, and it is watermark-bounded; steps 1 and 3
are stateless projections.  Heavy dedup (MinHash fuzzy,
semantic) stays a periodic BATCH job over the ingested data — its
corpus-wide aggregations have no bounded-state streaming form, which is
why public pipelines run ingestion filters online and fuzzy dedup offline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entitymatchingmodel_spark.streaming.dedup import drop_exact_duplicates_stream


def curate_stream(
    stream: DataFrame,
    text_col: str,
    ts_col: str,
    langs: tuple[str, ...] = ("en",),
    min_quality: float = 0.3,
    watermark: str = "10 minutes",
    url_col: str | None = None,
    lm_model=None,
    max_perplexity: float | None = None,
    lm_max_model_rows: int = 5_000_000,
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
    """Quality filter -> watermark-bounded exact dedup -> language filter
    over a streaming document frame; with ``url_col`` set, a URL-dedup
    stage (:func:`drop_url_duplicates_stream`) runs FIRST — C4's pipeline
    order is URL dedup -> quality -> content dedup, and the URL stage is
    the cheapest state (one short key per page vs a content hash computed
    over every candidate).  The expensive scorers (trigram lang, LM,
    DSIR) run AFTER the content dedup: they normalize case/edge
    whitespace exactly like the content hash, so every duplicate-group
    member scores identically and scoring only the surviving
    representative is result-identical and strictly cheaper (see the
    stage-order note in the body).  When ``c4_clean=True`` they score
    the CLEANED text — the text the corpus will actually keep.

    With ``lm_model`` (a fitted/loaded :class:`operators.lm.BigramLM`)
    and ``max_perplexity`` set, a CCNet-style perplexity gate runs after
    the quality filter: every row is scored STATELESSLY against the
    broadcast reference-LM counts (:meth:`BigramLM.score_rowwise` — a
    pure Arrow-batched projection, append-safe; the batch scorer's
    per-doc aggregation has no append-mode streaming form) and rows
    scoring above ``max_perplexity`` — or unscorable (<2 tokens), which
    CCNet drops as garbage — are filtered.  This is the production CCNet
    posture: fit on the clean corpus offline, load, gate the crawl on
    ingest.

    With ``blocklist`` set (a tuple of lowercase tokens — C4's "bad
    words" list, Raffel et al. 2020 §2.2), a badwords screen runs right
    after the quality filter: :func:`functions.text.blocked_terms_table`'s
    literal shape, ONE stateless map-only projection (codegen isin probe
    over the token array), dropping any page with a hit.  C4's published
    order — URL dedup, then the cheap per-page screens, then content
    dedup — is exactly the stage order here.

    With ``c4_clean=True``, the C4 line filter + page rules
    (:func:`functions.text.c4_retained_lines` /
    :func:`functions.text.c4_page_keep`, Raffel et al. 2020 §2.2) run
    right after the quality filter: the page text is REWRITTEN to its
    retained lines and pages failing the lorem-ipsum / curly-brace /
    min-sentence rules are dropped — both stateless HOF/regex
    expressions, so the stage is append-safe and downstream stages
    (blocklist, LM, DSIR, content dedup) see the CLEANED text, which is
    C4's published composition.

    With ``rw_clean=True``, the RefinedWeb line-wise corrections
    (:func:`functions.text.refinedweb_kept_lines` /
    :func:`functions.text.refinedweb_page_keep`, Penedo et al. 2023
    §G.2) run right after the C4 stage (or in its place): drop
    uppercase-dominated / numeric-only / counter / one-word lines,
    rewrite the page to the survivors, and drop the page when the
    removed lines exceed ``rw_max_removed_frac`` of its characters —
    stateless HOF/regex expressions (append-safe), shared verbatim with
    the batch front-door (``operators.curation._rw_stage``).

    With ``dsir_ratios`` (a fitted
    :func:`functions.selection.dsir_bucket_logratios` table) and
    ``min_dsir`` set, a DSIR target-likeness gate runs alongside the LM
    gate: rows are scored STATELESSLY against the broadcast bucket
    ratios (:func:`functions.selection.dsir_scores_rowwise` — an
    Arrow-batched projection, append-safe; the batch scorer's per-doc
    rollup has no append-mode form) and rows scoring below ``min_dsir``
    — or zero-gram rows, which carry no evidence of target-likeness —
    are dropped.  The bucket count is read from the fitted table itself;
    ``dsir_n_buckets`` only validates when supplied.

    Output: the surviving rows plus ``lang``, ``quality``,
    ``content_hash`` — ``url_norm`` when ``url_col`` is set, and
    ``n_bigrams``/``avg_logp``/``perplexity`` when the LM gate is on —
    audit columns.  ``langs=()`` keeps every detected language (filter
    skipped).  Two stateful stages in one query is the post-Spark-3.4
    multi-stateful-operator shape; both are watermark-bounded.

    The language filter is the Arrow-batched char-trigram kernel
    (:func:`functions.text.lang_id_kernel`): a stateless projection
    (append-safe) scored AFTER the content dedup, so only surviving
    representatives pay it, and its ArrowEvalPython node is a codegen
    boundary for the JVM screens around it.
    """
    if (lm_model is None) != (max_perplexity is None):
        raise ValueError("lm_model and max_perplexity must be set together")
    if (dsir_ratios is None) != (min_dsir is None):
        raise ValueError("dsir_ratios and min_dsir must be set together")
    if not stream.isStreaming:
        raise ValueError("curate_stream requires a streaming DataFrame")
    if url_col is not None:
        from entitymatchingmodel_spark.streaming.dedup import (
            drop_url_duplicates_stream,
        )

        stream = drop_url_duplicates_stream(stream, url_col, ts_col, watermark)
    from entitymatchingmodel_spark.functions.text import (
        lang_id_kernel,
        quality_score,
    )

    # stage-order economics (r9): the cheap per-page screens (quality, C4,
    # badwords) run FIRST, content dedup next, and the EXPENSIVE scorers
    # (the trigram lang kernel, the LM and DSIR gates) run only on the
    # deduped survivors.  This is semantically identical to scoring before
    # dedup — all three scorers normalize case and edge whitespace exactly
    # like the content hash does, so every member of a duplicate group
    # scores the same — and strictly cheaper: each unique content is
    # scored once.
    s = stream.withColumn("quality", quality_score(F.col(text_col))).filter(
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
        # C4's line filter REWRITES the page (dropped lines removed) and
        # its page rules drop the page outright — both stateless
        # HOF/regex expressions (append-safe).  The rewrite happens
        # BEFORE blocklist / LM / DSIR / content-dedup, so downstream
        # stages see the cleaned text — C4's published stage order.
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
        from entitymatchingmodel_spark.operators.curation import _rw_stage

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
        # the blocked_terms_table literal shape inlined as a filter: a
        # stateless projection (append-safe), zero joins/shuffles
        toks = word_tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
        s = s.filter(F.size(F.filter(toks, lambda t: t.isin(*bad))) == 0)
    # when the URL stage ran, it already set the watermark — redefining it
    # downstream of a stateful operator is disallowed
    s = drop_exact_duplicates_stream(
        s, text_col, ts_col, watermark, set_watermark=url_col is None
    )
    # stateless Arrow projection after the dedup state op: append-safe,
    # and only surviving representatives pay the kernel
    s = s.withColumn("lang", lang_id_kernel(F.col(text_col)))
    if langs:
        s = s.filter(F.col("lang").isin(*langs))
    if lm_model is not None:
        s = lm_model.score_rowwise(s, text_col, max_model_rows=lm_max_model_rows)
        s = s.filter(F.col("perplexity") <= float(max_perplexity))
    if dsir_ratios is not None:
        from entitymatchingmodel_spark.functions.selection import (
            dsir_scores_rowwise,
        )

        s = dsir_scores_rowwise(s, dsir_ratios, text_col,
                                n_buckets=dsir_n_buckets)
        s = s.filter(F.col("dsir_logratio") >= float(min_dsir))
    return s
