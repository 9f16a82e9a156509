"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2
through the entitymatchingmodel_spark package; ``oracle_sql()`` gives the
DuckDB-equivalent ANSI SQL over the same parquet tables.

Determinism rules used throughout (so Spark and DuckDB hash-match):
- scores are rounded (6-8 dp) BEFORE any ranking/filtering, mirroring the
  reference's round-before-rank rule (SURVEY.md §4 X15);
- all top-k windows tie-break on a stable integer key;
- uids are taken from source keys (p_partkey, doc_id, ...), never generated.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from entitymatchingmodel_spark.operators.features import LEGAL_FORM_TERMS

# suffix matcher shared verbatim by the Spark operator and the lef_match
# oracle (leftmost-first alternation, longest term first)
_LEF_RE_SQL = "(?:^|\\s)(" + "|".join(LEGAL_FORM_TERMS) + ")$"

# char-trigram profiles shared verbatim by the Spark lang-id scorers and
# their DuckDB oracle.  The oracle renders them as a replace()-count sum, a
# formulation neither package scorer uses: non-overlapping counting equals
# the scorers' all-positions counting only because no profile trigram is
# self-overlapping, which the package asserts at import.
from entitymatchingmodel_spark.functions.text import (
    C4_POLICY_PHRASES,
    CHAR_TRIGRAM_PROFILES,
    RW_MAX_REMOVED_FRAC as _RW_FRAC,
)


def _trigram_sql_hits(lang: str) -> str:
    terms = " + ".join(
        f"(length(t) - length(replace(t, '{t3}', '')))"
        for t3 in CHAR_TRIGRAM_PROFILES[lang]
    )
    return f"({terms}) / 3"


# The three enumeration fragments below are GENERATED from the profile dict
# so a language added to CHAR_TRIGRAM_PROFILES flows into every oracle
# automatically — a hand-enumerated language list desyncs silently (e.g.
# the alphabetical tie-break clause must name every language that sorts
# before the target, and that set changes when profiles grow).

def _lang_hits_select() -> str:
    """One ``h_<lang>`` hit-count column per profile language."""
    return ",\n                     ".join(
        f"{_trigram_sql_hits(lang)} AS h_{lang}"
        for lang in sorted(CHAR_TRIGRAM_PROFILES)
    )


def _lang_best_expr() -> str:
    return "greatest(" + ", ".join(
        f"h_{lang}" for lang in sorted(CHAR_TRIGRAM_PROFILES)
    ) + ")"


def _lang_case_expr() -> str:
    """Argmax label with the Spark scorer's alphabetical-first tie-break
    (first WHEN that matches wins, langs emitted in sorted order)."""
    langs = sorted(CHAR_TRIGRAM_PROFILES)
    whens = "\n                    ".join(
        f"WHEN h_{lang} = best THEN '{lang}'" for lang in langs[:-1]
    )
    return (
        "CASE WHEN best = 0 THEN 'und'\n                    "
        f"{whens}\n                    ELSE '{langs[-1]}' END"
    )


def _lang_wins_sql(lang: str) -> str:
    """Predicate: ``lang`` is the scorer's winner — its hits equal the
    best AND every alphabetically-earlier language is strictly below
    (the tie-break goes to the earlier language otherwise)."""
    langs = sorted(CHAR_TRIGRAM_PROFILES)
    cond = f"best > 0 AND h_{lang} = best"
    for earlier in langs[: langs.index(lang)]:
        cond += f" AND h_{earlier} < best"
    return cond


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition a small-file scan across cores before per-row-heavy
    compute.  Local test parquet is one file (often one row group -> 1-2
    input partitions); without this, expression-heavy per-row operators
    (minhash, simhash) run on a single core.  On a real cluster the input
    layout provides the parallelism and this is a no-op-sized shuffle."""
    return df.repartition(spark.sparkContext.defaultParallelism)


# Fit-once state: a fitted model, codebook or candidate frame that several
# queries (or several calls of one query) share, the way a production job
# fits once and transforms many times.  Keyed by (session, sf_dir, name).
_FITTED: dict = {}


def _fitted(spark: SparkSession, sf_dir: str, name: str, build: Callable):
    """Return the artifact registered under ``name``, building it once."""
    key = (id(spark), sf_dir, name)
    if key not in _FITTED:
        _FITTED[key] = build()
    return _FITTED[key]


def reset_fitted() -> None:
    """Release everything the registry holds and empty it, so the next call
    of each query rebuilds from scratch.  A DataFrame drops its cache entry
    and, if it is ``localCheckpoint``-ed, its checkpoint RDD; a model drops
    its own caches through ``unpersist()``."""
    for obj in _FITTED.values():
        if isinstance(obj, DataFrame):
            obj.unpersist()
            plan = obj._jdf.queryExecution().analyzed()
            if plan.nodeName() == "LogicalRDD":
                plan.rdd().unpersist(False)
        elif hasattr(obj, "unpersist"):
            obj.unpersist()
    _FITTED.clear()


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full pipeline on sf0.001 part names — preprocess ->
    3-indexer candidate selection (word/char cossim + SNI) -> supervised GBT
    scoring with best-match selection.  (Account aggregation needs an
    account column; it is exercised by the agg_* contract queries.)"""
    from entitymatchingmodel_spark import SparkEntityMatching

    sf_dir = "/root/testdata/sf0.001"
    parts = _t(spark, sf_dir, "part")
    gt = (
        parts.groupBy(F.col("p_name").alias("name"))
        .agg(F.min("p_partkey").alias("id"))
    )
    names = parts.select(F.col("p_name").alias("name"), F.col("p_partkey").alias("id"))
    em = SparkEntityMatching(
        parameters={
            "indexers": [
                {"type": "cosine_similarity", "tokenizer": "words", "ngram": 1,
                 "num_candidates": 5, "cos_sim_lower_bound": 0.2},
                {"type": "cosine_similarity", "tokenizer": "characters", "ngram": 2,
                 "num_candidates": 5, "cos_sim_lower_bound": 0.2},
                {"type": "sni", "window_length": 3},
            ]
        }
    )
    em.fit(gt)
    em.fit_classifier(names, max_iter=5)
    return em.transform(names)


# ---------------------------------------------------------------------------
# query helpers (the queries() entries and the fit-once helpers they share)
# ---------------------------------------------------------------------------

def q_preprocess_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preprocessing pipeline (SURVEY §2.3) on synthesized dirty names."""
    from entitymatchingmodel_spark.functions.preprocessing import apply_pipeline

    part = _t(spark, sf_dir, "part")
    dirty = F.concat(F.lit("  "), F.upper("p_name"), F.lit(" - "), F.col("p_brand"), F.lit("! "))
    return part.select(
        F.col("p_partkey").alias("p_partkey"),
        apply_pipeline(dirty, "preprocess_name").alias("preprocessed"),
    )


def q_tfidf_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF vocabulary fit (SURVEY §2.4 V5) over documents."""
    from entitymatchingmodel_spark.operators.tfidf import TfIdfVectorizer

    docs = _t(spark, sf_dir, "documents").select("doc_id", F.col("text").alias("preprocessed"))
    model = TfIdfVectorizer(input_col="preprocessed", analyzer="words", ngram=1).fit(docs, "doc_id")
    return model.vocab.select(
        "token", F.col("df").cast("long").alias("df"), F.round("idf", 8).alias("idf")
    )


def _part_gt_names(spark: SparkSession, sf_dir: str):
    part = _t(spark, sf_dir, "part")
    gt = part.groupBy(F.col("p_name").alias("preprocessed")).agg(
        F.min("p_partkey").alias("gt_uid")
    )
    names = part.select(
        F.col("p_partkey").alias("uid"), F.col("p_name").alias("preprocessed")
    )
    return gt, names


def q_cossim_word_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k candidate join (SURVEY §2.5 J1), word tokens."""
    from entitymatchingmodel_spark.operators.cossim_indexer import CosSimIndexer

    gt, names = _part_gt_names(spark, sf_dir)
    model = CosSimIndexer(
        tokenizer="words", ngram=1, k=5, lower_bound=0.1, max_vocab=None,
        score_decimals=6,
    ).fit(gt)
    out = model.transform(names)
    return out.select("uid", "gt_uid", F.round("score", 6).alias("score"), "rank")


def q_cossim_broadcast_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same logical cosine top-k as q_cossim_word_topk, but via the
    broadcast-kernel physical strategy (SURVEY §2.5 J1 strategy (a)) —
    identical results, zero transform-side shuffles."""
    from entitymatchingmodel_spark.operators.cossim_indexer import CosSimIndexer

    gt, names = _part_gt_names(spark, sf_dir)
    model = CosSimIndexer(
        tokenizer="words", ngram=1, k=5, lower_bound=0.1, max_vocab=None,
        score_decimals=6, strategy="broadcast",
    ).fit(gt)
    out = model.transform(names)
    return out.select("uid", "gt_uid", F.round("score", 6).alias("score"), "rank")


def q_cossim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same cosine top-k as q_cossim_word_topk through the THIRD physical
    strategy (SURVEY §7's 'optional later' approxSimilarityJoin
    alternative): MinHash-LSH banding over the token sets prunes the
    candidate space, then only surviving pairs get the exact cosine
    rescore — exact scores on a recall-bounded candidate set, the path
    for corpora whose token-postings join is too hot even after
    max_df_frac pruning.  The oracle reproduces the signatures with the
    same permutation family as the document-LSH oracle."""
    from entitymatchingmodel_spark.operators.cossim_indexer import CosSimIndexer

    gt, names = _part_gt_names(spark, sf_dir)
    # fit once per registry lifetime: without it, repeated calls each
    # persist a fresh GT index + names-weight cache and the accumulating
    # evicted-block churn dominates the measurement
    model = _fitted(spark, sf_dir, "cossim_lsh_model", lambda: CosSimIndexer(
        tokenizer="words", ngram=1, k=5, lower_bound=0.1, max_vocab=None,
        score_decimals=6, strategy="lsh",
    ).fit(gt))
    out = model.transform(names)
    return out.select("uid", "gt_uid", F.round("score", 6).alias("score"), "rank")


def q_sni_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighbourhood candidates (SURVEY §2.5 J3), window 5 (w=2)."""
    from entitymatchingmodel_spark.operators.sni_indexer import SNIIndexer

    gt, names = _part_gt_names(spark, sf_dir)
    model = SNIIndexer(window_length=5).fit(gt)
    out = model.transform(names)
    return out.select("uid", "gt_uid", F.round("score", 6).alias("score"), "rank")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate grouping by content hash (dedup family)."""
    from entitymatchingmodel_spark.operators.dedup import exact_duplicates

    docs = _t(spark, sf_dir, "documents")
    return exact_duplicates(docs, "doc_id", "text")


def q_dedup_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_exact_duplicates: one representative row per normalized text."""
    from entitymatchingmodel_spark.operators.dedup import drop_exact_duplicates

    docs = _t(spark, sf_dir, "documents")
    return drop_exact_duplicates(docs, "doc_id", "text").select("doc_id", "n_chars")


def q_noised_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded name-noise generation (training-data augmentation).

    Deterministic but hash-rng-based -> rows-only check.
    """
    from entitymatchingmodel_spark.sources.noiser import noise_names

    part = _t(spark, sf_dir, "part")
    names = part.select(F.col("p_partkey").alias("pk"), F.col("p_name").alias("name"))
    out = noise_names(names, noise_level=0.5, seed=42)
    return out.select("pk", "name", "noised_name")


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-component duplicate clusters over MinHash-LSH pairs."""
    from entitymatchingmodel_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=32, shingle_n=3)
    pairs = minhash_lsh_pairs(sigs, bands=8, rows_per_band=4).filter(
        F.col("est_jaccard") >= 0.5
    )
    ids = docs.select(F.col("doc_id").alias("id"))
    return duplicate_clusters(ids, pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


def q_dup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clusters via alternating large-star/small-star (O(log n) rounds,
    diameter-independent — the adversarial-chain-safe variant); checked
    against the SAME oracle as dup_clusters."""
    from entitymatchingmodel_spark.operators.dedup import (
        duplicate_clusters_star,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=32, shingle_n=3)
    pairs = minhash_lsh_pairs(sigs, bands=8, rows_per_band=4).filter(
        F.col("est_jaccard") >= 0.5
    )
    ids = docs.select(F.col("doc_id").alias("id"))
    return duplicate_clusters_star(ids, pairs).select(
        F.col("id").alias("doc_id"), "cluster_id"
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling (curation op): engine-portable
    hash membership, per-language quotas over documents."""
    from entitymatchingmodel_spark.functions.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample(
        docs, key_col="doc_id", stratum_col="lang",
        fractions={"en": 0.5, "de": 0.25}, default_fraction=0.1,
    )
    return out.select("doc_id", "lang")


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis ops: token count, char count, stopword ratio, quality."""
    from entitymatchingmodel_spark.functions.text import text_stats

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return text_stats(docs, "doc_id", "text")


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule table (Rae et al. 2021 §A1.1.2 defaults):
    per-doc word/line rule columns + the keep flag, one map-only
    projection — every ratio is a per-row integer division rounded to
    6dp, so the oracle is EXACT."""
    from entitymatchingmodel_spark.functions.text import gopher_rules_table

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return gopher_rules_table(docs, "doc_id", "text")


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's full repetition rule table (r9 — Rae et al. 2021 §A1.1.1,
    completing the §A1.1.2 rules of gopher_quality): 13 published
    fractions per document (dup lines/paragraphs by count and by chars —
    all per-row HOF expressions, zero shuffle; top-2/3/4-gram coverage —
    one explode + count shuffle keyed by doc; dup-5..10-gram coverage —
    per-row again), each rounded to 6dp, plus the fused keep flag.
    Oracle GENERATED from the same thresholds dict — EXACT."""
    from entitymatchingmodel_spark.functions.text import gopher_repetition_table

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return gopher_repetition_table(docs, "doc_id", "text")


def q_gopher_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FUSED Gopher filter (r9): quality rules AND repetition rules
    in one call — (doc_id, keep_rules, keep_repetition, keep).  One
    equi-join on the doc id between the map-only rules projection and the
    repetition table; oracle = conjunction of the two generated
    fragments."""
    from entitymatchingmodel_spark.functions.text import gopher_keep_table

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return gopher_keep_table(docs, "doc_id", "text")


# reg_domain contract constants — the oracle is GENERATED from these.
# Suffix table includes both 'uk' and 'co.uk' so longest-match is what
# the row actually certifies; every _RD_NULL_EVERY-th doc is a BARE
# public suffix (no registrable part -> NULL).
_RD_SUFFIXES = ("co.uk", "com.au", "com", "org", "uk")
_RD_TLDS = ("co.uk", "com.au", "com", "zz")  # zz: unmatched -> naive fallback
_RD_NULL_EVERY = 7


def q_reg_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Public-suffix-aware registered domain (r9): planted ccTLD URLs
    resolved against a user-supplied suffix table via longest-suffix-first
    broadcast hash joins (no explode, fact side never shuffled).  Certifies
    longest-match ('co.uk' beats 'uk'), the bare-suffix -> NULL rule, and
    the naive fallback for unlisted TLDs.  Oracle reconstructs the answer
    from the plant parameters — EXACT."""
    from entitymatchingmodel_spark.functions.web import registered_domain_table

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    tld = F.element_at(
        F.array(*[F.lit(t) for t in _RD_TLDS]),
        (F.col("doc_id") % len(_RD_TLDS) + 1).cast("int"),
    )
    url = F.when(
        F.col("doc_id") % _RD_NULL_EVERY == 0, F.lit("https://co.uk")
    ).otherwise(
        F.concat(F.lit("https://www.a."), F.col("source"), F.lit("."), tld,
                 F.lit("/p"))
    )
    planted = docs.select("doc_id", "source", url.alias("url"))
    sfx = spark.createDataFrame([(s,) for s in _RD_SUFFIXES], "suffix string")
    out = registered_domain_table(planted, "url", sfx)
    return out.select("doc_id", "reg_domain")


def q_resample_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UPSAMPLE half of the unbounded-group mixture family (r9):
    temperature_mix_unbounded(allow_upsample=True) over the same
    high-cardinality source x md5-bucket domain key as
    temperature_mix_domain — repeat factors computed IN-PLAN (max-ratio
    anchor via the non-foldable-key broadcast hash join), joined back,
    map-only repeat-explode with the hash-gated fractional copy.  EXACT
    oracle generated from the shared constants."""
    from entitymatchingmodel_spark.functions.sampling import (
        temperature_mix_unbounded,
    )

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit(_DOM_SALT),
                                  F.col("doc_id").cast("string"))),
                1, 4,
            ),
            16, 10,
        ).cast("long")
        % _DOM_BUCKETS
    )
    d = docs.withColumn(
        "domain", F.concat_ws("_", F.col("source"), bucket.cast("string"))
    )
    out = temperature_mix_unbounded(
        d, "doc_id", "domain", alpha=_DOM_ALPHA, allow_upsample=True
    )
    return out.select("doc_id", "domain", "copy")


# blocklist contract terms — corpus-frequent tokens so keep splits both ways
_BLOCK_TERMS = ("spark", "slow", "dup")


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style badwords screening (r9, Raffel et al. 2020 §2.2): ONE
    map-only projection — blocked-occurrence counts via a codegen isin
    probe over the token array, zero shuffle/joins; keep = no hits.
    Occurrences (not distinct terms) are counted — EXACT oracle."""
    from entitymatchingmodel_spark.functions.text import blocked_terms_table

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return blocked_terms_table(docs, "doc_id", "text", list(_BLOCK_TERMS))


# c4_rules plant constants — the oracle fragment is GENERATED from these.
# Each doc gets doc_id%8 good sentences plus four always-dropped lines
# (short / javascript / policy / unterminated); every 7th doc gains a
# lorem-ipsum line (page-level drop), every 11th a curly-brace snippet.
_C4_GOOD = "All of these words form a clean valid sentence number "
_C4_FIXED = (
    "Too short line.",
    "Please enable javascript for the full experience today.",
    "This site uses cookies per our posted rules.",
    "no terminal punctuation on this line of words",
    # ends in '.', so the bare terminal-mark check would retain it; the
    # official c4_utils drops ellipsis-terminated lines — exercises the
    # NOT ends_with('...') leg of the predicate on both engines
    "This sentence has plenty of words but just trails away...",
)
_C4_LOREM = "Decorative lorem ipsum filler sentence appears right here."
_C4_CURLY = "Snippet with braces { inside } and a period."


def q_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning rules (r9, Raffel et al. 2020 §2.2 / the official
    c4_utils.py): line-level terminal-punctuation / min-words /
    javascript / policy-phrase retention plus page-level lorem-ipsum /
    curly-brace / min-sentence verdicts, as ONE map-only projection over
    deterministically planted multi-line text (the plant-then-transform
    pattern — the synthetic corpus has no newlines or punctuation).
    Completes the big-three rule sets beside gopher_* and
    blocklist_filter — EXACT oracle."""
    from entitymatchingmodel_spark.functions.text import c4_rules_table

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    good = F.concat(
        F.lit(_C4_GOOD), (F.col("doc_id") % 5).cast("string"), F.lit(".")
    )
    empty = F.array().cast("array<string>")
    lines = F.concat(
        F.array_repeat(good, (F.col("doc_id") % 8).cast("int")),
        F.array(*[F.lit(x) for x in _C4_FIXED]),
        F.when(F.col("doc_id") % 7 == 0, F.array(F.lit(_C4_LOREM))).otherwise(empty),
        F.when(F.col("doc_id") % 11 == 0, F.array(F.lit(_C4_CURLY))).otherwise(empty),
    )
    planted = docs.select("doc_id", F.array_join(lines, "\n").alias("text"))
    return c4_rules_table(planted, "doc_id", "text")


# refinedweb_lines plant constants — the oracle fragment is GENERATED
# from these plus the RW_* rule constants in functions/text.py.  One
# always-good line (the doc text, terminal-punctuated) plus one line
# per removal rule: an all-caps shout (every 2nd doc), a numeric-only
# line, a social counter, a one-word line (every 3rd doc).  The keep
# verdict then varies naturally with the doc text's length (removed
# chars are near-constant; the 5% budget is not).
_RW_CAPS = "THIS ENTIRE LINE IS SHOUTING IN CAPITAL LETTERS ONLY."
_RW_WORD = "Loading"


def q_refinedweb_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb line-wise corrections (r10, Penedo et al. 2023 §G.2 —
    functions/text.py refinedweb_lines_table): drop uppercase-dominated
    / numeric-only / counter / one-word lines, then drop the DOCUMENT
    when removed lines exceed 5% of its characters.  The fourth
    canonical web-curation rule set beside gopher_*, c4_rules and
    blocklist_filter.  All thresholds compared in integer micro-units
    (no float division anywhere), one map-only projection — EXACT
    oracle generated from the same constants the operator reads."""
    from entitymatchingmodel_spark.functions.text import (
        refinedweb_lines_table,
    )

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    empty = F.array().cast("array<string>")
    lines = F.concat(
        F.array(F.concat(F.col("text"), F.lit("."))),
        F.when(F.col("doc_id") % 2 == 0, F.array(F.lit(_RW_CAPS))).otherwise(empty),
        F.array((F.col("doc_id") % 1000).cast("string")),
        F.array(F.concat((F.col("doc_id") % 50).cast("string"), F.lit(" likes"))),
        F.when(F.col("doc_id") % 3 == 0, F.array(F.lit(_RW_WORD))).otherwise(empty),
    )
    planted = docs.select("doc_id", F.array_join(lines, "\n").alias("text"))
    return refinedweb_lines_table(planted, "doc_id", "text")


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot-over-snapshot dedup (r10, operators/dedup.py
    build_content_index + dedup_against_index — the CommonCrawl
    monthly-dump reality): fingerprint an already-admitted slice (every
    3rd doc) into a 16-byte-per-doc content index, then LEFT ANTI join
    the full "new snapshot" against it, keeping only novel content.
    Both sides partition on the uniform md5 key (viral duplicates
    cannot skew it); with the index persisted bucketed on content_hash
    the index-side exchange disappears.  EXACT oracle (NOT EXISTS —
    matching left-anti NULL-key semantics)."""
    from entitymatchingmodel_spark.operators.dedup import (
        build_content_index,
        dedup_against_index,
    )

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    seen = build_content_index(docs.where(F.col("doc_id") % 3 == 0), "text")
    fresh = dedup_against_index(docs, "text", seen)
    return fresh.select("doc_id", "lang", "source")


def q_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered incremental dedup (r11, operators/dedup.py
    build_bloom_index + dedup_against_bloom): the admitted-slice content
    index is compressed by ONE map-side-combined bit_or aggregation into
    a <=16 KiB bitmap (2^17 bits here), shipped as an array<long>
    literal; the snapshot's definitely-new majority then passes a pure
    map-stage probe (element_at + bitwiseAND per hash, zero joins) and
    only the probable-duplicate sliver reaches the exact LEFT ANTI
    confirm join — the 100-TB shape where the full snapshot never
    shuffles.  False positives are eliminated by the confirm join, so
    the output is pinned to the SAME oracle as `incremental_dedup`.

    r11 OPTIMIZATION: the in-plan content index is localCheckpoint-ed —
    it sits under BOTH the bloom build's driver collect and the exact
    confirm join, so the unmaterialized frame paid the slice scan + md5
    distinct twice (a production caller reads the index from its
    persisted bucketed table, where this is moot)."""
    from entitymatchingmodel_spark.operators.dedup import (
        build_bloom_index,
        build_content_index,
        dedup_against_bloom,
    )

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    seen = build_content_index(
        docs.where(F.col("doc_id") % 3 == 0), "text"
    ).localCheckpoint()
    bloom = build_bloom_index(seen, num_bits=1 << 17, num_hashes=5)
    fresh = dedup_against_bloom(docs, "text", seen, bloom=bloom)
    return fresh.select("doc_id", "lang", "source")


def q_near_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dedup against a persisted LSH band index (r11,
    operators/dedup.py build_band_index + dedup_against_band_index —
    the fuzzy sibling of `incremental_dedup`, same snapshot-over-
    snapshot posture): the admitted slice's DISTINCT MinHash band
    buckets (~300 bytes/doc) are the persisted state; a new snapshot
    drops every doc sharing at least one band bucket (the RefinedWeb
    drop-on-collision rule).  ONE signature pass + two hash-keyed
    joins, no pairwise stage; MinHash geometry is read from the index's
    embedded parameter columns.  EXACT oracle via the shared
    _SQL_MINHASH fragment.

    r11 OPTIMIZATION (guide §1.2/§2.3): the signature aggregation is the
    dominant stage and the admitted slice is a SUBSET of the probed
    snapshot, so the snapshot's signatures are computed once (persisted)
    and both call sites slice from them via the operators' shared-sigs
    parameter — before, the index side and the probe side each ran a
    full signature pass (plus a third for the geometry head-collect):
    ~1.7 corpus-signature-equivalents down to 1."""
    from entitymatchingmodel_spark.operators.dedup import (
        build_band_index,
        dedup_against_band_index,
        minhash_signatures,
    )

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    sigs = minhash_signatures(
        docs, "doc_id", "text", num_hashes=32, shingle_n=3
    ).persist()
    idx = build_band_index(
        docs.where(F.col("doc_id") % 3 == 0), "doc_id", "text",
        sigs=sigs.where(F.col("id") % 3 == 0),
    )
    fresh = dedup_against_band_index(docs, "doc_id", "text", idx, sigs=sigs)
    return fresh.select("doc_id", "lang", "source")


def q_reputation_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reputation-based selection (r11, functions/selection.py
    group_reputation + reputation_filter — the RefinedWeb/Dolma
    bad-domain posture): per-source quality evidence as an integer
    micro-unit sum (ONE map-side-combined aggregate, #groups output
    rows, order-free and engine-exact), then a LEFT SEMI join keeps
    docs whose source's mean quality clears the threshold via the
    division-free integer comparison sum_micro >= thresh * n.  Score =
    the oracle-shared quality_score formula, so the whole row is
    hash-exact."""
    from entitymatchingmodel_spark.functions.selection import reputation_filter
    from entitymatchingmodel_spark.functions.text import quality_score

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", quality_score(F.col("text")).alias("q")
    )
    out = reputation_filter(docs, "source", "q", min_mean=0.822, min_docs=5)
    return out.select("doc_id", "source")


def q_quality_clf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style quality classifier (r9, operators/quality_clf.py —
    the GPT-3/LLaMA discriminative curation filter): hashed uni+bi-gram
    features (JVM HashingTF), LogisticRegression target-vs-raw fit
    (lang='en' slice vs the corpus, the dsir_scores framing), map-only
    JVM scoring.  ROWS-ONLY BY DESIGN: learned LR probabilities have no
    SQL oracle (the supervised_scores posture) — separation quality and
    save/load identity are pinned in tests/test_quality_clf.py; the
    deterministic selection half has the exact-oracled `pareto_select`
    row."""
    from entitymatchingmodel_spark.operators.quality_clf import (
        QualityClassifier,
    )

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    target = docs.where(F.col("lang") == "en")
    clf = QualityClassifier.fit(
        target, docs, "doc_id", "text", n_features=1 << 14, max_iter=20
    )
    return clf.score(docs, "doc_id", "text").select("doc_id", "quality_prob")


_PARETO_ALPHA = 9.0


def q_pareto_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3's noisy quality threshold (r9, Brown et al. 2020 §A) made
    deterministic: keep iff score > 1 - x, x = Pareto(alpha=9) via
    inverse-CDF over the md5 unit hash.  The score column is the
    oracle-shared quality_score formula so the WHOLE row is exact; one
    map-only pow per row, no shuffle."""
    from entitymatchingmodel_spark.functions.text import quality_score
    from entitymatchingmodel_spark.operators.quality_clf import pareto_keep

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id", quality_score(F.col("text")).alias("quality_prob")
    )
    return pareto_keep(scored, "doc_id", alpha=_PARETO_ALPHA)


# curate_batch plant constants — the oracle fragment is GENERATED from
# these.  Each doc's text becomes one terminal-punctuated line plus
# doc_id%3 filler sentences and two always-dropped lines; every 7th doc
# gains a lorem-ipsum line, every 11th a curly-brace line (page drops).
_CB_FILLER = "The quick brown fox jumps over the lazy dog again."
_CB_SHORT = "Too short."
_CB_JS = "Please enable javascript to view this page properly."
# terminal-mark '.', enough words — dropped ONLY by the ellipsis rule
_CB_ELLIPSIS = "And then this page just keeps trailing off and off..."
_CB_LOREM = "Filler lorem ipsum sentence appears in this page."
_CB_CURLY = "Broken markup with a { brace character inside it."
_CB_MIN_SENT = 2


def q_curate_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch curation front-door (r9, operators/curation.py
    curate_batch — the offline twin of curate_stream, same stage list
    and config): quality gate -> C4 line/page rules (rewrite + drop) ->
    exact content dedup keeping the deterministic min-id representative
    per CLEANED text -> char-trigram language filter scored on the
    representative's cleaned text (the expensive scorer runs on deduped
    survivors only — result-identical since the scorer normalizes
    exactly like the content hash).  Every non-dedup stage is a map-only
    projection; the dedup is one min-struct aggregate.  The plant adds
    line structure (the corpus has none); representatives are
    deterministic, so doc_id/quality project safely — EXACT oracle."""
    from entitymatchingmodel_spark.operators.curation import curate_batch

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    empty = F.array().cast("array<string>")
    lines = F.concat(
        F.array(F.concat(F.col("text"), F.lit("."))),
        F.array_repeat(F.lit(_CB_FILLER), (F.col("doc_id") % 3).cast("int")),
        F.array(F.lit(_CB_SHORT), F.lit(_CB_JS), F.lit(_CB_ELLIPSIS)),
        F.when(F.col("doc_id") % 7 == 0, F.array(F.lit(_CB_LOREM))).otherwise(empty),
        F.when(F.col("doc_id") % 11 == 0, F.array(F.lit(_CB_CURLY))).otherwise(empty),
    )
    planted = docs.select("doc_id", F.array_join(lines, "\n").alias("text"))
    out = curate_batch(
        planted, "doc_id", "text", langs=("en",), min_quality=0.5,
        c4_clean=True, c4_min_sentences=_CB_MIN_SENT,
    )
    return out.select("doc_id", "lang", "quality", "content_hash")


# DSIR contract parameters — the oracle is GENERATED from these
_DSIR_BUCKETS = 1024
_DSIR_ALPHA = 1.0


def q_dsir_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (r9, Xie et al. 2023): hashed uni+bi-gram
    multinomials fit on the lang='en' slice (target) vs the full corpus
    (raw), per-doc log importance ratio.  Fit = two bucket-bounded count
    aggregates with 1-row broadcast total anchors (no driver collect);
    score = gram explode -> broadcast bucket join -> ONE per-doc sum of
    integer micro-units (order-free, so cross-engine EXACT)."""
    from entitymatchingmodel_spark.functions.selection import (
        dsir_bucket_logratios,
        dsir_scores,
    )

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    target = docs.where(F.col("lang") == "en")
    ratios = dsir_bucket_logratios(
        target, docs, "doc_id", "text",
        n_buckets=_DSIR_BUCKETS, alpha=_DSIR_ALPHA,
    )
    return dsir_scores(docs, ratios, "doc_id", "text", n_buckets=_DSIR_BUCKETS)


# resample contract parameters — the oracle is GENERATED from these
_DSIR_K = 100
_DSIR_SEED = 42


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection step (r9, Xie et al. 2023 §2): Gumbel-top-k sampling
    without replacement proportional to exp(score/temperature) over the
    fitted importance scores — the Gumbel noise derives from the md5 unit
    hash (salted by the seed), so the draw reproduces exactly across
    engines and the oracle re-derives the identical k-document set.
    Plan: the dsir_scores pipeline + one map-only key projection + a
    TakeOrdered top-k (per-partition top-k, no global sort)."""
    from entitymatchingmodel_spark.functions.selection import (
        dsir_bucket_logratios,
        dsir_resample,
        dsir_scores,
    )

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    target = docs.where(F.col("lang") == "en")
    ratios = dsir_bucket_logratios(
        target, docs, "doc_id", "text",
        n_buckets=_DSIR_BUCKETS, alpha=_DSIR_ALPHA,
    )
    scores = dsir_scores(docs, ratios, "doc_id", "text", n_buckets=_DSIR_BUCKETS)
    return dsir_resample(
        scores, "doc_id", k=_DSIR_K, temperature=1.0, seed=_DSIR_SEED
    )


# PQ contract parameters — the oracle is GENERATED from these
_PQ_M = 4          # subspaces (64-dim embeddings -> 16-dim subvectors)
_PQ_K = 16         # codes per subspace
_PQ_TOPK = 5
_PQ_NQ = 5         # query batch: the NQ smallest vec_ids
_IPQR_SHORTLIST = 15  # refine: ADC shortlist = 3x the final k


def _pq_cb(spark: SparkSession, sf_dir: str, emb: DataFrame, normalize: bool) -> DataFrame:
    """Deterministic PQ codebook, registered as fit-once state: a fitted
    model artifact (pq_codebooks_from_ids localCheckpoints its m*k rows)
    shared by three contract rows, which the production posture builds once
    (PQModel.fit/save)."""
    from entitymatchingmodel_spark.operators.pq import pq_codebooks_from_ids

    return _fitted(spark, sf_dir, f"pq_cb_{normalize}", lambda: pq_codebooks_from_ids(
        emb, "vec_id", "embedding", _PQ_M, _PQ_K, normalize=normalize
    ))


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ADC top-k (r9, Jegou et al. 2011): encode the
    corpus to m small codes per vector against a DETERMINISTIC codebook
    (subvectors of the k smallest vec_ids — SQL-reconstructable; learned
    pq_fit codebooks are pytest'd for recall instead), then score queries
    with the asymmetric distance table — broadcast-sized because the
    query batch is the bounded side.  Scores sum integer micro-units, so
    ranking and values are order-free — EXACT oracle."""
    from entitymatchingmodel_spark.operators.pq import (
        pq_encode,
        pq_topk,
    )

    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    cb = _pq_cb(spark, sf_dir, emb, normalize=False)
    codes = pq_encode(emb, cb, "vec_id", "embedding", _PQ_M)
    queries = (
        emb.orderBy("vec_id").limit(_PQ_NQ)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    return pq_topk(codes, cb, queries, "vec_id", "qid", "embedding", k=_PQ_TOPK)


# IVF-PQ contract parameters — the oracle is GENERATED from these
# (IVF half mirrors ivf_topk's constants; PQ half mirrors pq_topk's)
_IPQ_NLIST = 16
_IPQ_NPROBE = 4


def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (r9, Jegou et al. 2011 §V — the billion-scale layout):
    IVF md5-sampled centroids prune to nprobe/nlist of the corpus, then
    PQ/ADC scores candidates from m codes instead of raw vectors.  The
    deterministic unit-normalized codebook (subvectors of the k smallest
    vec_ids) keeps the whole composition SQL-reconstructable; learned
    codebooks (pq_fit) are pytest'd for recall instead.  Round-before-rank
    on bucket choices + integer micro-unit ADC sums — EXACT oracle."""
    from entitymatchingmodel_spark.operators.pq import ivf_pq_topk

    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 20)
    cb = _pq_cb(spark, sf_dir, emb, normalize=True)
    return ivf_pq_topk(
        queries, emb, "vec_id", "embedding", k=_PQ_TOPK,
        nlist=_IPQ_NLIST, nprobe=_IPQ_NPROBE, m=_PQ_M, pq_k=_PQ_K,
        codebooks=cb, score_decimals=6,
    )


def q_ivf_pq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (r10, the FAISS IndexRefine pattern —
    operators/pq.py refine_topk): the IVF-PQ composition ranks a 3x
    shortlist from codes, then ONLY shortlisted rows are re-scored with
    the exact unit cosine from their raw vectors — recovers the recall
    ADC quantization loses without ever scanning raw vectors
    corpus-wide.  Shortlist+query vectors broadcast; micro-unit exact
    scores — EXACT oracle (the full shortlist SQL reused as a
    subquery)."""
    from entitymatchingmodel_spark.operators.pq import (
        ivf_pq_topk,
        refine_topk,
    )

    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 20)
    cb = _pq_cb(spark, sf_dir, emb, normalize=True)
    shortlist = ivf_pq_topk(
        queries, emb, "vec_id", "embedding", k=_IPQR_SHORTLIST,
        nlist=_IPQ_NLIST, nprobe=_IPQ_NPROBE, m=_PQ_M, pq_k=_PQ_K,
        codebooks=cb, score_decimals=6,
    )
    return refine_topk(
        shortlist, queries, emb, "vec_id", "embedding", k=_PQ_TOPK
    )


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus observability rollup ("data card" numbers): ONE
    map-side-combined aggregate — counts/sums exact, averages rounded to
    6dp (the quality formula is the same fragment the curation oracle
    mirrors)."""
    from entitymatchingmodel_spark.functions.text import corpus_profile

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return corpus_profile(docs, "source", "text")


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style URL normalization: each doc gets a deterministic planted
    URL (scheme/WWW case, utm query, fragment, trailing-slash variants by
    doc_id — the same plant-then-transform pattern as pii_scrub/lang_id),
    then host/domain/registered-domain/normalized-key columns.  Pure
    anchored-regex pipeline in the Java∩RE2 subset — EXACT oracle."""
    from entitymatchingmodel_spark.functions.web import (
        url_domain,
        url_normalize,
        url_registered_domain,
    )

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    tail = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(""))
        .when(F.col("doc_id") % 4 == 1, F.lit("?utm_source=news"))
        .when(F.col("doc_id") % 4 == 2, F.lit("#section-2"))
        .otherwise(F.lit("/"))
    )
    url = F.concat(
        F.lit("HTTPS://WWW."), F.col("source"), F.lit(".Example.COM/Docs/"),
        (F.col("doc_id") % 5).cast("string"), F.lit("/"),
        F.col("doc_id").cast("string"), tail,
    )
    planted = docs.select("doc_id", url.alias("url"))
    return planted.select(
        "doc_id",
        url_domain(F.col("url")).alias("domain"),
        url_registered_domain(F.col("url")).alias("reg_domain"),
        url_normalize(F.col("url")).alias("url_norm"),
    )


# url_dedup contract constants — the oracle fragment is GENERATED from
# these: docs map onto _URL_PAGES pages per source (so pages collide) in
# four scheme/case/query/fragment/slash variants, and every
# _URL_NULL_EVERY-th doc has no URL (must be KEPT, never cross-deduped)
_URL_PAGES = 120
_URL_NULL_EVERY = 17


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's URL-dedup step (r9 — the first stage of its pipeline): keep
    the min-doc_id representative per NORMALIZED planted URL.  Four
    variants of each page (https+www / HTTP+upper-host+utm-query /
    scheme-less+trailing-slash / fragment) collapse to one row via ONE
    min-struct aggregate (the drop_exact_duplicates skew shape); NULL-URL
    docs are all kept (per-row fallback key).  The oracle reconstructs
    the canonical key from the plant parameters — EXACT."""
    from entitymatchingmodel_spark.functions.web import url_normalize
    from entitymatchingmodel_spark.operators.dedup import drop_url_duplicates

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    page = (F.col("doc_id") % _URL_PAGES).cast("string")
    v = F.col("doc_id") % 4
    url = (
        F.when(v == 0, F.concat(F.lit("https://www."), F.col("source"),
                                F.lit(".example.com/p/"), page))
        .when(v == 1, F.concat(F.lit("HTTP://"), F.upper(F.col("source")),
                               F.lit(".EXAMPLE.COM/p/"), page, F.lit("?utm=x")))
        .when(v == 2, F.concat(F.col("source"), F.lit(".example.com/p/"),
                               page, F.lit("/")))
        .otherwise(F.concat(F.lit("https://"), F.col("source"),
                            F.lit(".example.com/p/"), page, F.lit("#frag")))
    )
    url = F.when(
        F.col("doc_id") % _URL_NULL_EVERY == 0, F.lit(None).cast("string")
    ).otherwise(url)
    planted = docs.select("doc_id", url.alias("url"))
    out = drop_url_duplicates(planted, "doc_id", "url")
    return out.select("doc_id", url_normalize(F.col("url")).alias("url_norm"))


# perplexity-band contract quantiles — the oracle is GENERATED from these
# (full-precision repr round-trips the doubles exactly)
_PPL_LO = 1 / 3
_PPL_HI = 2 / 3


def q_ppl_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail banding: self-trained bigram LM scores +
    per-language EXACT perplexity quantile thresholds (grouped_quantiles)
    + broadcast band join.  Thresholds are selected values, the compare
    is bit-exact — EXACT oracle composed from the same lm + quantile
    fragments."""
    from entitymatchingmodel_spark.operators.lm import BigramLM, perplexity_bands

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    model = BigramLM.fit(docs, "text", score_decimals=6)
    # r11: HOLD the fit's count caches and persist the scored frame
    # (persist_handles) — the banding composition reads the scored frame
    # from both the threshold subtree and the final join, and the count
    # tables sit under each; the pre-r11 unpersist made the execution
    # recompute the corpus-wide counts up to 4x.  The bench's per-query
    # clearCache scrub releases the caches.
    return perplexity_bands(docs, "doc_id", "text", model, "lang",
                            lo_q=_PPL_LO, hi_q=_PPL_HI, persist_handles=[])


# chunking contract parameters — the oracle is GENERATED from these
_CHUNK_TOKENS = 32
_CHUNK_OVERLAP = 8


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token-window document chunking (training-sample / RAG
    passage prep): map-only sequence+posexplode+slice, no shuffle; chunk
    boundaries are pure integer arithmetic — EXACT oracle."""
    from entitymatchingmodel_spark.functions.text import chunk_documents

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return chunk_documents(docs, "doc_id", "text",
                           chunk_tokens=_CHUNK_TOKENS, overlap=_CHUNK_OVERLAP)


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k tokens per language shard (corpus vocabulary analysis): one
    map-side-combined (group, token) count + a top-k window over the
    aggregated vocabulary (never the corpus); token-ascending tie-break
    — EXACT oracle."""
    from entitymatchingmodel_spark.functions.text import top_terms

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return top_terms(docs, "lang", "text", k=5)


# ASCII-only planted phrases for the lang-id contract (the synthetic corpus
# text is language-agnostic, so each doc gets a deterministic language tag
# appended — the same plant-then-detect pattern as pii_scrub).  One
# (lang, phrase) pair per profile, IN PROFILE-ADDITION ORDER; the pairing
# is pinned by tests/test_text_functions.py, which asserts every phrase's
# scorer argmax equals its language over the FULL profile set — the audit
# that caught the r8 sk-profile addition silently flipping the pt
# phrase's argmax to sk (r10 fixed the pt phrase; the row stayed EXACT
# throughout because the oracle computes the same argmax, but pt went
# unwitnessed for two rounds).
_LANG_PHRASE_PAIRS: "list[tuple[str, str]]" = [
    ("en", "the quick brown fox and the dog went to the market in the morning"),
    ("de", "der schnelle fuchs und die hunde gingen durch den wald und die wiesen"),
    ("fr", "le renard rapide et les chiens paresseux sont dans la maison que nous avons"),
    ("es", "el zorro rapido y los perros estan en la casa que tenemos del campo"),
    ("it", "la volpe veloce che corre nella casa della citta con il cane di padrone"),
    ("nl", "de snelle vos van een boer springt over de luie hond en het schaap van de stad"),
    ("pt", "a raposa que vai com o cao para o campo da aldeia e do rio com a decoracao que ficaram a ver"),
    ("sv", "den snabba raven hoppar over den lata hunden och springer till skogen"),
    ("da", "den hurtige raev hopper over den dovne hund og lober til skoven for at finde mad"),
    ("pl", "szybki lis skacze przez leniwego psa i biegnie do lasu ktorego nie znamy"),
    ("tr", "hizli tilki tembel kopegin uzerinden atlar ve ormana dogru kosar bir daha"),
    ("ro", "vulpea rapida sare peste cainele lenes si alearga spre padurea pe care o stim"),
    ("fi", "nopea kettu hyppaa laiskan koiran yli ja juoksee metsaan jota emme ole nahneet"),
    ("id", "rubah cepat yang melompat dan berlari dengan anjing untuk pergi ke hutan yang tidak kita kenal"),
    ("cs", "rychla liska skace pres lineho psa a bezi do lesa ktery pro nas neni znamy a je pod kopcem"),
    ("hu", "az okos roka atugrik a lusta kutya felett es nem szalad az erdobe hogy egy nap meg lassuk"),
    ("no", "den raske reven og hunden ble ikke som andre og lober fra skogen til vannet av en grunn som han har"),
    ("vi", "con cao nhanh nhay qua con cho luoi va chay vao trong rung cua chung ta khong ai biet duoc ngay nay"),
    ("ca", "la guineu rapida salta per sobre dels gossos mandrosos i corre cap al bosc que tenim amb els amics"),
    ("sk", "ako rychla liska pre nas skace cez psa do lesa ktory sa vola stary a nie je znamy v tych miestach ktore mame"),
    ("hr", "brza lisica skace preko lijenog psa koji se ne da i bit ce da ima sto na putu ali se ne zna je li to sve"),
    ("sl", "hitra lisica tudi skoci kot pes in tako je da se pri tem ne ve kaj tudi pri nas tako kot je v gozdu"),
    ("et", "kiire rebane on kui koer oma metsas ja nad olid seal ise kui vanad puud on selle koha peal ja jooksevad"),
    ("lv", "atra lapsa un suns ir tas kas par mezu vai talak iet un tiem draugiem ir sava briviba un tas ir viss"),
    ("lt", "greita lape ir suo yra kad kaip tai bet miskas yra toliau ir geriau matomas kad tai yra tiesa"),
    ("sw", "mbweha mwepesi na mbwa wa kijiji ni kwa sababu ya kukimbia katika msitu na njia za watu ni za zamani"),
    ("af", "die vinnige jakkals en die hond wat oor die heuwels gaan want ons het baie dinge gesien en hulle wat saam maar verder stap"),
    ("tl", "ang mabilis na soro at ang aso na ito ay para sa kanya dahil hindi niya alam ang lahat ng mga bagay dito"),
    ("ga", "agus an sionnach tapa agus an madra ach sin mar a deir siad chun faoi agus bhi gach rud go maith ann"),
    ("eu", "azeri azkarra eta txakurra bat zen eta dira baina ez zuen egin nahi izan dute eta beste bat egin zen"),
    ("sq", "dhelpra e shpejte dhe qeni qe nga nje shtepi per te gjithe eshte shume mire dhe te tjere"),
    ("cy", "mae y cadno cyflym yn mynd gyda y ci wedi bod ar y bryniau a mae pob dydd yn dda iawn"),
    ("mt", "il volpi malajr u il kelb li huwa ta dan il post fil gnien li hija tal belt u minn hemm"),
    # r11 tranche — witnesses for the 9 new profiles (raw-argmax audited
    # 42/42 by tests/test_text_functions.py's pairing pin)
    ("is", "hinn refur og hundur eru ekki eins og hinir sem hann hefur sed her og hun er med essi inni hvad sem eir segja"),
    ("lb", "de fuuss an den hond gin net esou vun der plaz mee hien huet ech mat em fir dass en do ass an ier mee gin"),
    ("la", "vulpes celeris et canis in silvam currunt cum omnibus amicis quorum tempora sunt antiqua et quibus iam erat atque tantum"),
    ("eo", "la rapida vulpo kaj la hundo kiu ankau kuras en la arbaron kaj cio estas bona por tiu ulo kaj por cia ajn homo"),
    ("mi", "ka oma te pokiha tere me te kuri ki te ngahere kei nga tangata o tenei whenua ratou ko nga mea katoa e mai ana"),
    ("so", "dawacada dhaqsaha leh iyo eyga ayaa soo orday waa inuu kale yahay oo dadka kale waa kuwa aan la aqoon soo"),
    ("yo", "kolokolo ti o yara ati aja ni won sare lo si inu igbo fun gbogbo awon eniyan ti won wa ni ile pe oka"),
    ("zu", "impungushe esheshayo kanye nenja zigijima ehlathini futhi abantu bathi ukuthi lokhu kuhle ngoba uma bekhona futhi"),
    ("mg", "ny amboahaolo haingana sy ny alika dia mihazakazaka any anaty ala fa ny olona izay tamin izany dia tsy mahalala"),
]
_LANG_PHRASES = [p for _, p in _LANG_PHRASE_PAIRS]


def _lang_phrase_case_sql() -> str:
    """doc_id -> planted phrase, generated from _LANG_PHRASES so the
    Spark plant and the oracle plant cannot desync on list growth."""
    def lit(p: str) -> str:  # SQL-escape: a phrase with an apostrophe
        return "'" + p.replace("'", "''") + " '"

    whens = "\n                          ".join(
        f"WHEN {i} THEN {lit(p)}" for i, p in enumerate(_LANG_PHRASES[:-1])
    )
    return (
        f"CASE doc_id % {len(_LANG_PHRASES)}\n"
        f"                          {whens}\n"
        f"                          ELSE {lit(_LANG_PHRASES[-1])} END"
    )


def _lang_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared planted-phrase frame for the three lang-id contract rows
    (literal / broadcast-join / Arrow-kernel scorer shapes — all three
    share ONE oracle, so a drift in any shape is a driver mismatch)."""
    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    phrase = F.element_at(
        F.array(*[F.lit(p) for p in _LANG_PHRASES]),
        (F.pmod(F.col("doc_id"), F.lit(len(_LANG_PHRASES))) + 1).cast("int"),
    )
    planted = F.concat(
        F.substring("text", 1, 120), F.lit(" "),
        F.repeat(F.concat(phrase, F.lit(" ")), 3),
    )
    return docs.select("doc_id", planted.alias("text"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language identification (Cavnar-Trenkle-style profile
    scorer, pure expressions): each document carries a planted language
    phrase chosen by doc_id % len(_LANG_PHRASES) — one phrase per
    profiled language, so every profile is driver-witnessed; the scorer
    must be engine-deterministic (hits + n_trigrams oracle-checked, not
    just the argmax label).

    Scored through the Arrow kernel shape (lang_id_table: one vectorized
    O(len) pass per batch); the oracle is the independent replace()-count
    SQL."""
    from entitymatchingmodel_spark.functions.text import lang_id_table

    return lang_id_table(_lang_planted(spark, sf_dir), "doc_id", "text")


def q_lang_id_joined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATA-DRIVEN broadcast-join shape of the trigram scorer (r11,
    functions/text.py lang_id_join_table): explode trigram positions ->
    broadcast-join the (gram, lang, prio) profile table -> two bounded
    aggregates -> left-join 'und' restore.  Same planted frame and same
    oracle as `lang_id`, so the shapes are pinned equal THROUGH the
    driver, not just in unit tests.  This is the scale path that keeps
    generated-code size constant as the dictionary grows (the literal
    expression gains ~100 bytes of Java per trigram and, fused into a
    front-door stage, blew janino's 64KB method limit — the r10 judge
    finding)."""
    from entitymatchingmodel_spark.functions.text import lang_id_join_table

    return lang_id_join_table(_lang_planted(spark, sf_dir), "doc_id", "text")


def q_lang_id_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-batched numpy-kernel shape of the trigram scorer (r11,
    functions/text.py lang_scores_kernel — the curation front-doors'
    default): one O(len) coding pass per document against a base-28
    trigram lookup table, batch-wide bincount + count matmul, stateless
    (append-safe on streams).  Same planted frame and same oracle as
    `lang_id`."""
    from entitymatchingmodel_spark.functions.text import lang_scores_kernel

    s = lang_scores_kernel(F.col("text"))
    return _lang_planted(spark, sf_dir).select(
        "doc_id",
        s["lang"].alias("lang"),
        s["hits"].alias("hits"),
        s["n_trigrams"].alias("n_trigrams"),
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search over embeddings."""
    from entitymatchingmodel_spark.operators.ann import cosine_topk

    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 20)
    return cosine_topk(queries, emb, "vec_id", "embedding", k=5, score_decimals=6)


def _cossim_cands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted cosine candidate set (and the model behind it), shared
    fit-once state of the rank/best-match/aggregation/supervised queries."""
    from entitymatchingmodel_spark.operators.cossim_indexer import CosSimIndexer

    gt, names = _part_gt_names(spark, sf_dir)
    model = _fitted(spark, sf_dir, "cossim_model", lambda: CosSimIndexer(
        tokenizer="words", ngram=1, k=5, lower_bound=0.1, max_vocab=None,
        score_decimals=6,
    ).fit(gt))
    return _fitted(
        spark, sf_dir, "cossim_cands", lambda: model.transform(names).persist()
    )


def _sni_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNI candidate pairs with both name strings — persisted fit-once
    state like _cossim_cands."""
    from entitymatchingmodel_spark.operators.sni_indexer import SNIIndexer

    gt, names = _part_gt_names(spark, sf_dir)
    model = _fitted(spark, sf_dir, "sni_model", lambda: SNIIndexer(window_length=5).fit(gt))
    return _fitted(spark, sf_dir, "sni_pairs", lambda: (
        model.transform(names)
        .join(names, "uid")
        .join(
            gt.select("gt_uid", F.col("preprocessed").alias("gt_preprocessed")),
            "gt_uid",
        )
        .persist()
    ))


def q_pair_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native name-pair features (SURVEY §2.10 M1) over SNI candidate pairs."""
    from entitymatchingmodel_spark.operators.features import pair_features

    out = pair_features(_sni_pairs(spark, sf_dir))
    return out.select(
        "uid", "gt_uid", "f_norm_ed", "f_token_sort", "f_token_set",
        "f_name_cut", "f_abbr_match", "f_abs_len_diff", "f_len_ratio",
        "f_ratio", "f_partial_ratio", "f_wratio",
    )


def q_rank_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window rank/diff features (SURVEY §2.7 W5) over cosine candidates."""
    from entitymatchingmodel_spark.operators.features import rank_features

    cands = _cossim_cands(spark, sf_dir)
    out = rank_features(cands, "score")
    return out.select(
        "uid", "gt_uid", "f_rank", "f_dist_to_max", "f_dist_to_min",
        "f_ptp", "f_diff_to_next", "f_diff_to_prev",
    )


def q_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-match window selection (SURVEY §2.7 W4) over cosine candidates."""
    from entitymatchingmodel_spark.operators.supervised import best_match

    cands = _cossim_cands(spark, sf_dir)
    return best_match(cands, "score").select("uid", "gt_uid", "best_rank", "best_match")


def _agg_input(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    cands = _cossim_cands(spark, sf_dir)
    return cands.join(
        part.select(
            F.col("p_partkey").alias("uid"),
            F.col("p_brand").alias("account"),
            F.col("p_name").alias("preprocessed"),
            F.col("p_size").cast("double").alias("counterparty_account_count_distinct"),
        ),
        "uid",
    ).withColumn("gt_entity_id", F.col("gt_uid"))


def q_agg_mean_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account aggregation, mean_score method (SURVEY §2.6 A6)."""
    from entitymatchingmodel_spark.operators.aggregation import aggregate_accounts

    return aggregate_accounts(_agg_input(spark, sf_dir), method="mean_score", score_col="score")


def q_agg_max_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account aggregation, max_frequency_nm_score method (SURVEY §2.6 A7)."""
    from entitymatchingmodel_spark.operators.aggregation import aggregate_accounts

    return aggregate_accounts(
        _agg_input(spark, sf_dir), method="max_frequency_nm_score", score_col="score"
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (dedup family), exploded to (doc_id, hash_idx, minhash)."""
    from entitymatchingmodel_spark.operators.dedup import minhash_signatures

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=32, shingle_n=3)
    return (
        # posexplode_outer: sig is always 32 elements; inner posexplode
        # triggers an inferred size>0 filter that re-evaluates the whole
        # signature expression a second time per row.
        sigs.select("id", F.posexplode_outer("sig").alias("hash_idx", "minhash"))
        .filter(F.col("minhash").isNotNull())
        .select(F.col("id").alias("doc_id"), "hash_idx", "minhash")
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate near-dup pairs with estimated Jaccard."""
    from entitymatchingmodel_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=32, shingle_n=3)
    pairs = minhash_lsh_pairs(sigs, bands=8, rows_per_band=4)
    return pairs.select(
        "id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard")
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 32-bit SimHash (dedup family)."""
    from entitymatchingmodel_spark.operators.dedup import simhash

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return simhash(docs, "doc_id", "text", bits=32).select(
        F.col("id").alias("doc_id"), "simhash"
    )


def q_embed_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact, bounded subset)."""
    from entitymatchingmodel_spark.operators.dedup import embedding_near_pairs

    emb = _spread(spark, _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000))
    return embedding_near_pairs(emb, "vec_id", "embedding", threshold=0.5)


def q_embed_near_pairs_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed embedding near-dup pairs (the 100 TB path: no driver
    collect of the corpus; one shuffle on bucket id).  Checked against the
    SAME exact all-pairs oracle as embed_near_pairs."""
    from entitymatchingmodel_spark.operators.dedup import embedding_near_pairs_bucketed

    emb = _spread(spark, _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000))
    return embedding_near_pairs_bucketed(emb, "vec_id", "embedding", threshold=0.5)


def q_fuzzy_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH fuzzy dedup in one call (the lexical sibling of
    semantic_dedup): same signature/banding/threshold as dup_clusters,
    composed through keep-one-per-cluster with cluster sizes; oracle =
    the dup_clusters transitive closure + keep-one + size."""
    from entitymatchingmodel_spark.operators.dedup import fuzzy_dedup

    docs = _spread(spark, _t(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    out = fuzzy_dedup(
        docs, "doc_id", "text",
        num_hashes=32, shingle_n=3, bands=8, rows_per_band=4, min_jaccard=0.5,
    )
    return out.select("doc_id", "source", "cluster_size")


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style one-call semantic dedup: IVF-bucketed cosine pairs →
    connected components → keep min-id representative per cluster, with
    cluster_size.  Oracle: exact all-pairs cosine + recursive transitive
    closure in DuckDB (embedding array excluded from the compared output;
    float-array stringification differs between engines)."""
    from entitymatchingmodel_spark.operators.dedup import semantic_dedup

    emb = _spread(spark, _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 2000))
    out = semantic_dedup(emb, "vec_id", "embedding", threshold=0.5)
    return out.select("vec_id", "label", "cluster_size")


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction audit (beyond-reference training-data op): scrub
    synthesized emails/IPs/phones/card numbers appended deterministically
    to each document."""
    from entitymatchingmodel_spark.functions.pii import scrub_documents

    docs = _t(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +31 6 1234 5678 ip 10.0."),
        F.pmod(F.col("doc_id"), F.lit(256)).cast("string"),
        F.lit(".7 card 4111111111111111"),
    )
    return scrub_documents(docs.withColumn("text", dirty), "doc_id", "text")


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (beyond-reference training-data op):
    5-gram overlap of each document against a held-out 'benchmark' slice
    (every 20th doc)."""
    from entitymatchingmodel_spark.operators.decontaminate import (
        benchmark_contamination,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(20)) == 0)
    rest = docs.filter(F.pmod(F.col("doc_id"), F.lit(20)) != 0)
    return benchmark_contamination(rest, bench, "doc_id", "text", ngram=5)


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (custom operator Spark lacks; DuckDB has native
    ASOF JOIN as the oracle): each event joined to the user's most recent
    purchase at-or-before it, 1h tolerance."""
    from entitymatchingmodel_spark.operators.events import asof_join, load_events

    ev = load_events(spark, f"{sf_dir}/events.parquet")
    left = ev.select("event_id", "user_id", "ts")
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_join(left, right, "user_id", "ts", ["purchase_value"],
                    tolerance_seconds=3600)
    return out.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("asof_ts").alias("asof_ts_us"),
        F.round("asof_purchase_value", 6).alias("asof_purchase_value"),
    )


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget curation sampling: keep documents in deterministic hash
    order until 20k cumulative tokens.  Distributed prefix-sum (bucketed
    offsets + per-bucket window) — never a single global window partition."""
    from entitymatchingmodel_spark.functions.sampling import token_budget_sample

    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.col("text"), "[^a-zA-Z0-9]+"), lambda x: x != ""
    )
    docs = docs.select("doc_id", F.size(toks).alias("n_tokens"))
    out = token_budget_sample(docs, "doc_id", "n_tokens", budget=20000)
    return out.select("doc_id", "n_tokens")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing (seq_len=512): documents
    laid end-to-end in deterministic hash order, token stream cut into
    fixed chunks, boundary docs split — one row per (chunk, doc) span.
    Same distributed prefix-sum machinery as token_budget_sample."""
    from entitymatchingmodel_spark.functions.sampling import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), "[^a-zA-Z0-9]+"), lambda x: x != "")
    docs = docs.select("doc_id", F.size(toks).cast("long").alias("n_tokens"))
    return pack_sequences(docs, "doc_id", "n_tokens", seq_len=512)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact line dedup (C4/RefinedWeb curation step): lines
    synthesized deterministically (newline after every 8 tokens — same
    regex in both engines), duplicates across the whole corpus keep only
    their first (doc_id, position) occurrence, docs rebuilt."""
    from entitymatchingmodel_spark.operators.dedup import line_dedup

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    multi = docs.select(
        "doc_id",
        F.regexp_replace("text", r"(([^ ]+ ){8})", "$1\n").alias("text"),
    )
    return line_dedup(multi, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "n_lines", "n_kept", "text"
    )


def q_events_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (pandas merge_asof(direction='forward') parity):
    each event joined to the user's NEXT purchase at-or-after it, 1h
    tolerance.  DuckDB native ASOF with the inequality flipped is the
    oracle."""
    from entitymatchingmodel_spark.operators.events import asof_join, load_events

    ev = load_events(spark, f"{sf_dir}/events.parquet")
    left = ev.select("event_id", "user_id", "ts")
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_join(left, right, "user_id", "ts", ["purchase_value"],
                    tolerance_seconds=3600, direction="forward")
    return out.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("asof_ts").alias("asof_ts_us"),
        F.round("asof_purchase_value", 6).alias("asof_purchase_value"),
    )


def q_events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (custom operator — Spark would plan the naive
    inequality join as a nested loop): every event matched back to its
    containing session interval.  Self-consistency: each event lands in
    exactly one session."""
    from entitymatchingmodel_spark.operators.events import (
        interval_join,
        load_events,
        sessionize,
    )

    ev = load_events(spark, f"{sf_dir}/events.parquet")
    sessions = sessionize(ev, gap_minutes=30).select(
        "user_id", "session_id", "session_start", "session_end"
    )
    out = interval_join(
        ev.select("event_id", "user_id", "ts"),
        sessions, "user_id", "ts", "session_start", "session_end",
    )
    return out.select(
        "event_id", "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        F.unix_micros("ts").alias("ts_us"),
    )


def q_events_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-outer bucketed range join: every event matched to its containing
    PURCHASE session (sessions built from purchase events only), keeping
    events with NO containing interval as NULL-interval rows — the
    exceptAll-complement outer shape (operators/events.py interval_join
    how='left'; the left-outer pattern mirrors the reference's only outer
    join, spark_candidate_selection.py:259-265, transplanted to events).
    Exercises the NULL interval columns the inner variant never emits."""
    from entitymatchingmodel_spark.operators.events import (
        interval_join,
        load_events,
        sessionize,
    )

    ev = load_events(spark, f"{sf_dir}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase")
    sessions = sessionize(purchases, gap_minutes=30).select(
        "user_id", "session_id", "session_start", "session_end"
    )
    out = interval_join(
        ev.select("event_id", "user_id", "ts"),
        sessions, "user_id", "ts", "session_start", "session_end",
        how="left",
    )
    return out.select(
        "event_id", "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
    )


def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: (day, event_type) ->
    per-day subtotals -> grand total in ONE pass via native
    ``rollup`` (Catalyst Expand + single hash aggregation — no
    re-aggregation job per level)."""
    from entitymatchingmodel_spark.operators.events import load_events

    ev = load_events(spark, f"{sf_dir}/events.parquet")
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    return (
        ev.select(day, "event_type", "value")
        .rollup("day", "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint + heuristic language id."""
    from entitymatchingmodel_spark.functions.text import fingerprint, lang_id

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fingerprint"),
        lang_id(F.col("text")).alias("lang_guess"),
    )


def q_vocab_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary hit/miss features (SURVEY §2.10 M2) over SNI pairs.

    Fully distributed path: the tier table never leaves the cluster —
    ``fit_vocab_tiers`` keeps it as a DataFrame and the feature step
    broadcast-joins it."""
    from entitymatchingmodel_spark.operators.features import (
        VOCAB_FEATURES,
        fit_vocab_tiers,
        vocabulary_features,
    )

    pairs = _sni_pairs(spark, sf_dir)
    _, names = _part_gt_names(spark, sf_dir)
    tiers = fit_vocab_tiers(
        names.select("preprocessed").distinct(), ["preprocessed"],
        very_common_min_df=0.05, common_min_df=0.001,
    )
    out = vocabulary_features(pairs, tiers, ["uid", "gt_uid"])
    return out.select("uid", "gt_uid", *VOCAB_FEATURES)


def q_lef_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Legal-entity-form match features (SURVEY §2.10 M4).

    Names are derived deterministically from part names + a rotating legal
    suffix so every match category is exercised.
    """
    from entitymatchingmodel_spark.operators.features import lef_features

    part = _t(spark, sf_dir, "part")
    fa = F.array(F.lit("bv"), F.lit("ltd"), F.lit("kabushiki kaisha"), F.lit(""))
    fb = F.array(F.lit("bv"), F.lit("sp z o o"), F.lit(""), F.lit("bv ltd"))
    base = part.select(
        F.col("p_partkey").alias("uid"),
        F.concat_ws(" ", F.lower("p_name"),
                    F.element_at(fa, (F.pmod("p_partkey", F.lit(4)) + 1).cast("int"))).alias("name1"),
        F.concat_ws(" ", F.lower("p_name"),
                    F.element_at(fb, (F.pmod(F.floor(F.col("p_partkey") / 4), F.lit(4)) + 1).cast("int"))).alias("name2"),
    )
    out = lef_features(base, "name1", "name2")
    return out.select("uid", "lef1", "lef2", "f_lef_match", "f_lef_score")


def q_country_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extra-column equality feature (SURVEY §2.10 M3): +1/-1/0 with nulls."""
    from entitymatchingmodel_spark.operators.features import extra_equality_feature

    part = _t(spark, sf_dir, "part")
    pairs = _sni_pairs(spark, sf_dir)
    nm_c = part.select(
        F.col("p_partkey").alias("uid"),
        F.nullif(F.col("p_brand"), F.lit("Brand#11")).alias("country"),
    )
    gt_c = part.select(
        F.col("p_partkey").alias("gt_uid"),
        F.nullif(F.col("p_brand"), F.lit("Brand#11")).alias("gt_country"),
    )
    out = extra_equality_feature(
        pairs.join(nm_c, "uid").join(gt_c, "gt_uid"), "country"
    )
    return out.select("uid", "gt_uid", "f_country_match")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity join (dedup family)."""
    from entitymatchingmodel_spark.operators.dedup import ngram_jaccard_pairs

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return ngram_jaccard_pairs(docs, "doc_id", "text", shingle_n=3, threshold=0.2)


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: pigeonhole banding + exact Hamming verify."""
    from entitymatchingmodel_spark.operators.dedup import simhash, simhash_near_pairs

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    sim = simhash(docs, "doc_id", "text", bits=32)
    return simhash_near_pairs(sim, bits=32, max_hamming=3, blocks=4).select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate nearest neighbours (scale path of ANN).

    Fully deterministic (md5-of-id centroid sample, round-before-rank) ->
    EXACT oracle.
    """
    from entitymatchingmodel_spark.operators.ann import ivf_topk

    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 20)
    return ivf_topk(
        queries, emb, "vec_id", "embedding", k=5, nlist=16, nprobe=4,
        score_decimals=6,
    )


def q_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-once/query-many IVF index through its FULL persistence cycle:
    build -> save (corpus bucket-PARTITIONED on disk) -> load -> search.
    Same parameters and same EXACT oracle as ``ivf_topk`` (the two are
    pinned equal in tests/test_ann.py); what this row witnesses extra is
    the production posture — the probe reads only the nprobe probed
    buckets' files via dynamic partition pruning (plan pinned in
    tests/test_ann.py::test_loaded_index_probe_prunes_partitions)."""
    import hashlib

    from entitymatchingmodel_spark.operators.ann import IVFIndex

    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    path = ("/tmp/emm_ivf_index_"
            + hashlib.md5(os.path.realpath(sf_dir).encode()).hexdigest()[:12])
    handles: list = []
    ix = IVFIndex.build(emb, "vec_id", "embedding", nlist=16,
                        score_decimals=6, persist_handles=handles)
    ix.save(path)
    for h in handles:  # build-side centroid cache dies with the save
        h.unpersist()
    load_handles: list = []
    loaded = IVFIndex.load(spark, path, persist_handles=load_handles)
    result = loaded.search(
        emb.filter(F.col("vec_id") < 20), "vec_id", "embedding", k=5, nprobe=4
    )
    # release the load-side centroid cache too: this function runs once
    # per bench repeat / correctness pass, so a dropped handle would leak
    # one cached nlist-row table per call for the session's lifetime.
    # The returned plan stays valid — it re-reads the tiny centroid
    # parquet instead of the cache when executed.
    for h in load_handles:
        h.unpersist()
    return result


# kmeans_clusters contract parameters — the oracle SQL is GENERATED from
# these same constants (_kmeans_oracle_sql below), so query and oracle
# cannot desync.
_KM_K = 8
_KM_ITER = 2
_KM_DEC = 6
_KM_SEED = 42


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed spherical k-means over the embeddings table (Lloyd,
    md5-sample init shared with ivf_topk, round-before-rank at every
    assignment and on every centroid coordinate) — fully deterministic,
    so the unrolled-iteration DuckDB oracle is EXACT.

    r11: the fit's unit-normalized corpus cache is HELD (persist_handles)
    so the final assignment's structurally-identical unit frame reads it
    instead of re-normalizing the corpus from parquet; the bench's
    per-query clearCache scrub releases it."""
    from entitymatchingmodel_spark.operators.clustering import kmeans_clusters

    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    return kmeans_clusters(
        emb, "vec_id", "embedding", k=_KM_K, n_iter=_KM_ITER, seed=_KM_SEED,
        score_decimals=_KM_DEC, cent_decimals=_KM_DEC, persist_handles=[],
    )


def q_kmeans_stream_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming embedding router through its FULL persistence cycle
    (r8): fit k-means in batch (identical params to kmeans_clusters),
    SAVE the fitted model (k-row centroid table + params), LOAD it back
    — the fresh-session production ingest posture, no corpus access on
    the load side — then route the same embeddings arriving as a STREAM
    (readStream + availableNow into a memory sink — harness devices) via
    the loaded model's stateless literal-centroid projection
    (clustering.KMeansModel.assign_streaming — no join, window, or
    state).  Stream output == batch assignment exactly (centroids are
    rounded doubles; parquet round-trips them exactly), so this row
    STILL shares kmeans_clusters' GENERATED oracle verbatim."""
    import hashlib

    from entitymatchingmodel_spark.operators.clustering import KMeansModel

    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    model = KMeansModel.fit(
        emb, "vec_id", "embedding", k=_KM_K, n_iter=_KM_ITER, seed=_KM_SEED,
        score_decimals=_KM_DEC, cent_decimals=_KM_DEC,
    )
    path = ("/tmp/emm_km_model_"
            + hashlib.md5(os.path.realpath(sf_dir).encode()).hexdigest()[:12])
    model.save(path)
    load_handles: list = []
    loaded = KMeansModel.load(spark, path, persist_handles=load_handles)
    src = os.path.realpath(f"{sf_dir}/embeddings.parquet")
    static = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(static.schema).parquet(_stream_src_dir(src))
        # single-file testdata arrives as one split; same local artifact
        # _spread() fixes for batch scans
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    )
    out = loaded.assign_streaming(stream, "vec_id", "embedding")
    result = _run_stream_to_memory(
        spark, out, "q_kmeans_stream_assign_sink", "append"
    )
    # assign_streaming collected the centroids into the plan already; the
    # load-side cache would otherwise leak one k-row table per call
    for h in load_handles:
        h.unpersist()
    return result


# cap for the cluster_balanced_sample contract row (k-means params are
# shared with q_kmeans_clusters; at sf0.01 every cluster holds ~55-80
# rows, so a cap of 40 bites every cluster without emptying any)
_KM_CAP = 40


def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClusterClip/D4-style semantic rebalancing: k-means the embeddings,
    then keep at most _KM_CAP rows per cluster by deterministic hash
    rank — composition of two exact primitives, EXACT oracle."""
    from entitymatchingmodel_spark.operators.clustering import (
        cluster_balanced_sample,
    )

    emb = _spread(spark, _t(spark, sf_dir, "embeddings"))
    # n_iter=1: the cap composition is what this row witnesses; the
    # iteration mechanics are already covered by kmeans_clusters (n_iter=2)
    # and the oracle is GENERATED per iteration count, so both stay exact
    return cluster_balanced_sample(
        emb, "vec_id", "embedding", k=_KM_K, n_iter=1,
        max_per_cluster=_KM_CAP, seed=_KM_SEED,
        score_decimals=_KM_DEC, cent_decimals=_KM_DEC,
        # r11: hold the fit's unit-frame cache for the final assignment
        # (see q_kmeans_clusters); the bench scrub releases it
        persist_handles=[],
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with a proper timestamp column.

    The driver wrote ts as parquet TIMESTAMP(NANOS) which Spark's vectorized
    reader rejects; read nanos as long (legacy conf) and convert, pinning
    the session to UTC so wall times match the naive oracle timestamps.
    """
    from entitymatchingmodel_spark.operators.events import load_events

    return load_events(spark, f"{sf_dir}/events.parquet")


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation (Structured Streaming agg
    primitive, run on batch here)."""
    from entitymatchingmodel_spark.operators.events import windowed_agg

    ev = _events(spark, sf_dir)
    out = windowed_agg(ev, window_duration="1 hour")
    return out.select(
        "window_start", "event_type", "n_events", F.round("sum_value", 6).alias("sum_value")
    )


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1h window, 15m slide): each event lands
    in 4 overlapping windows, expanded inside one hash aggregation."""
    from entitymatchingmodel_spark.operators.events import windowed_agg

    ev = _events(spark, sf_dir)
    out = windowed_agg(ev, window_duration="1 hour", slide_duration="15 minutes")
    return out.select(
        "window_start", "event_type", "n_events", F.round("sum_value", 6).alias("sum_value")
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity boundary)."""
    from entitymatchingmodel_spark.operators.events import sessionize

    ev = _events(spark, sf_dir)
    return sessionize(ev, gap_minutes=30, tiebreak_cols=["event_id"]).select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        "n_events",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
    )


def _stream_src_dir(src: str) -> str:
    """The file stream source requires a DIRECTORY (testdata ships each
    table as a single parquet file); expose it through a symlink dir keyed
    by the FULL source path (two sf dirs sharing a basename must not
    collide), re-linking if a stale/dangling link points elsewhere."""
    import hashlib

    src_dir = f"/tmp/emm_stream_src_{hashlib.md5(src.encode()).hexdigest()[:12]}"
    os.makedirs(src_dir, exist_ok=True)
    link = f"{src_dir}/{os.path.basename(src)}"
    if os.path.lexists(link) and os.path.realpath(link) != src:
        os.remove(link)
    if not os.path.lexists(link):
        os.symlink(src, link)
    return src_dir


def _streaming_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with the batch loader's ts
    normalization."""
    from entitymatchingmodel_spark.operators.events import normalize_event_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = os.path.realpath(f"{sf_dir}/events.parquet")
    static = spark.read.parquet(src)
    return normalize_event_ts(
        spark.readStream.schema(static.schema).parquet(_stream_src_dir(src)), "ts"
    )


def _run_stream_to_memory(spark: SparkSession, df: DataFrame, name: str,
                          output_mode: str,
                          shuffle_partitions: int = 8,
                          expect_single_batch: bool = False) -> DataFrame:
    """availableNow trigger into a memory sink; returns the sink table.
    Harness device only — the plan under test is the streaming one.

    ``shuffle_partitions`` sizes the STATE STORE: a streaming stateful
    operator snapshots spark.sql.shuffle.partitions at query start and
    commits one state file per partition per microbatch, so running a
    small availableNow batch at the session's 32 costs 4-5x wall-clock in
    pure commit overhead (measured 5.5-11s -> 2.2-2.5s at sf0.1).  This
    is the per-stream throughput knob a real deployment sizes to arrival
    rate; results are partition-count independent.  Scoped via
    scoped_conf — the session value is restored after start."""
    from entitymatchingmodel_spark.operators.events import scoped_conf

    for q in spark.streams.active:
        if q.name == name:
            q.stop()
    with scoped_conf(
        spark, spark__sql__shuffle__partitions=str(shuffle_partitions)
    ):
        q = (
            df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if expect_single_batch:
        # Some contract oracles (streaming_curation's global DISTINCT vs
        # its watermark-bounded dedup) are only equivalent when the whole
        # source arrives in ONE micro-batch — true today (single-file
        # testdata, no maxFilesPerTrigger).  Assert it so a harness change
        # (multi-file source splitting the batch) fails LOUDLY here
        # instead of surfacing as a flaky hash mismatch (r7 advice).
        fed = [p for p in q.recentProgress if int(p["numInputRows"]) > 0]
        if len(fed) > 1:
            raise AssertionError(
                f"stream {name!r} ran {len(fed)} non-empty micro-batches; "
                "the contract oracle assumes exactly one (watermark-bounded "
                "state vs global-DISTINCT equivalence)"
            )
    return spark.table(name)


def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin proof as a CONTRACT query (not just a unit
    test): the native ``session_window`` streaming aggregation runs over the
    same events file via ``readStream`` + ``availableNow`` trigger into a
    memory sink, and must hash-match the SAME DuckDB gap-session oracle the
    batch ``sessionize`` uses (minus per-user session numbering, which
    streaming keys by window instead).  Complete output mode so the final
    batch holds every session; the memory sink materializes on the driver —
    a harness-side device only, the aggregation itself is the bounded-state
    streaming plan documented in streaming/dedup.py.
    """
    from entitymatchingmodel_spark.streaming import sessionize_stream

    stream = _streaming_events(spark, sf_dir)
    sess = sessionize_stream(stream, gap_minutes=30)
    out = _run_stream_to_memory(spark, sess, "q_streaming_sessions_sink", "complete")
    return out.select(
        "user_id",
        "n_events",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
    )


def q_streaming_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked time-bounded join as a CONTRACT query:
    every event joined to the same user's purchases in the preceding hour,
    both sides arriving as STREAMS (readStream + availableNow into a
    memory sink — harness devices; the plan under test is the
    stream-stream inner join whose time-range condition lets Structured
    Streaming evict join state behind the watermark, streaming/join.py).
    Oracle: the equivalent batch range join in DuckDB — append mode, so
    the final sink holds exactly the joined rows.
    """
    from entitymatchingmodel_spark.streaming import stream_time_bounded_join

    left = _streaming_events(spark, sf_dir).select("event_id", "user_id", "ts")
    right = (
        _streaming_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("ts").alias("r_ts"),
            F.col("value").alias("r_value"),
        )
    )
    joined = stream_time_bounded_join(
        left, right, "user_id", left_ts="ts", right_ts="r_ts",
        lookback_seconds=3600, lookahead_seconds=0, watermark="2 hours",
    )
    out = _run_stream_to_memory(spark, joined, "q_streaming_time_join_sink", "append")
    return out.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros("r_ts").alias("r_ts_us"),
        F.round("r_value", 6).alias("r_value"),
    )


def q_streaming_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming ingestion front-door as a CONTRACT query
    (streaming/curate.py curate_stream): documents arrive as a STREAM
    (readStream + availableNow into a memory sink — harness devices) and
    pass char-trigram language ID -> quality gate -> watermark-bounded
    exact dedup (``dropDuplicatesWithinWatermark``, one state row per
    content hash).  Oracle: the equivalent batch lang + quality + distinct
    pipeline in DuckDB.

    Which PHYSICAL row survives a duplicate group is arrival-order
    dependent, so the output projects only columns CONSTANT within a
    group: content_hash, and lang (the trigram normalizer collapses the
    same trim/lower variations the content hash does, so lang cannot
    differ within a hash group).  quality is NOT projected — it is
    computed on the RAW text, so whitespace-variant duplicates could
    carry different quality values and the surviving one would be
    arrival-order dependent.  The quality FILTER itself is fine: both
    engines apply it per raw row before dedup.  Event time is
    synthesized per doc_id (the documents table carries no timestamp;
    the watermark needs one)."""
    from entitymatchingmodel_spark.streaming.curate import curate_stream

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = os.path.realpath(f"{sf_dir}/documents.parquet")
    static = spark.read.parquet(src)
    stream = (
        spark.readStream.schema(static.schema).parquet(_stream_src_dir(src))
        # single-file testdata arrives as ONE source split per micro-batch,
        # which would run the per-row scorer single-threaded — same local
        # artifact _spread() fixes for batch scans; on a real ingest the
        # source has many splits and this shuffle is a no-op cost-wise
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
        # deterministic event time: 2024-01-01 UTC + doc_id seconds
        .withColumn("ts", F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id")))
    )
    curated = curate_stream(
        stream, "text", "ts", langs=("en",), min_quality=0.5,
        watermark="10 minutes",
    )
    out = _run_stream_to_memory(
        spark, curated, "q_streaming_curation_sink", "append",
        # the 10-minute watermark only equals the oracle's global DISTINCT
        # when the whole file arrives in one micro-batch — pinned loudly
        expect_single_batch=True,
    )
    return out.select("content_hash", "lang")


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native JSON prop extraction + per-type aggregate."""
    from entitymatchingmodel_spark.operators.events import extract_json_prop

    ev = extract_json_prop(_spread(spark, _events(spark, sf_dir)))
    return ev.groupBy("event_type").agg(
        F.round(F.avg(F.col("prop_k").cast("int")), 6).alias("avg_k"),
        F.count("*").alias("n"),
    )


def _labelled_cossim(spark: SparkSession, sf_dir: str) -> DataFrame:
    gt, names = _part_gt_names(spark, sf_dir)
    cands = _cossim_cands(spark, sf_dir)
    return (
        cands.join(names, "uid")
        .join(gt.select("gt_uid", F.col("preprocessed").alias("gt_preprocessed")), "gt_uid")
        .withColumn("correct", F.col("preprocessed") == F.col("gt_preprocessed"))
    )


def q_threshold_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold decision curves (SURVEY §2.10 M12) — distributed confusion
    matrices at every score threshold."""
    from entitymatchingmodel_spark.operators.training import threshold_curves

    scored = _labelled_cossim(spark, sf_dir)
    out = threshold_curves(scored, score_col="score", positive_set_col=None)
    return out.select(
        "name_set", F.round("threshold", 6).alias("threshold"), "tn", "fp", "fn", "tp"
    )


def q_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC via the distributed rank-sum identity (SURVEY §2.10 M13)."""
    from entitymatchingmodel_spark.operators.training import auc_score

    scored = _labelled_cossim(spark, sf_dir)
    auc = auc_score(scored, score_col="score", correct_col="correct")
    return spark.createDataFrame([(round(auc, 6),)], "auc double")


def _docs_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text re-encoded as an opaque binary media payload column."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.encode("text", "UTF-8").alias("payload"))


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column metadata scan (multimodal family) — all native."""
    from entitymatchingmodel_spark.operators.multimodal import media_metadata

    out = media_metadata(_docs_media(spark, sf_dir), "doc_id", "payload")
    return out.select(F.col("id").alias("doc_id"), "n_bytes", "format", "content_md5")


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas media feature extraction (deterministic byte-level path),
    exploded to (doc_id, bin_idx, feat_val)."""
    from entitymatchingmodel_spark.operators.multimodal import image_features

    feats = image_features(_docs_media(spark, sf_dir), "doc_id", "payload")
    return (
        feats.select("id", F.posexplode_outer("feat").alias("bin_idx", "feat_val"))
        .filter(F.col("feat_val").isNotNull())
        .select(F.col("id").alias("doc_id"), "bin_idx", F.round("feat_val", 6).alias("feat_val"))
    )


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas frame sampling (multimodal family): chunk lengths per doc."""
    from entitymatchingmodel_spark.operators.multimodal import sample_frames

    frames = sample_frames(
        _docs_media(spark, sf_dir), "doc_id", "payload",
        frame_bytes=64, every_n=2, max_frames=4,
    )
    return frames.select(
        F.col("id").alias("doc_id"),
        "frame_idx",
        F.length("frame").cast("long").alias("frame_len"),
    )


def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas amplitude stats over int8-PCM-interpreted payload."""
    from entitymatchingmodel_spark.operators.multimodal import audio_stats

    out = audio_stats(_docs_media(spark, sf_dir), "doc_id", "payload")
    return out.select(
        F.col("id").alias("doc_id"),
        "n_samples",
        F.round("mean_amp", 6).alias("mean_amp"),
        F.round("max_amp", 6).alias("max_amp"),
    )


def _supervised_cands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Labelled candidate frame shared by the supervised contract queries."""
    part = _t(spark, sf_dir, "part")
    cands = _cossim_cands(spark, sf_dir)
    return (
        cands.join(
            part.select(F.col("p_partkey").alias("uid"), F.col("p_name").alias("preprocessed")),
            "uid",
        )
        .join(
            part.groupBy(F.col("p_name").alias("gt_preprocessed")).agg(
                F.min("p_partkey").alias("gt_uid")
            ),
            "gt_uid",
        )
        .withColumn("gt_entity_id", F.col("gt_uid"))
        # label source: a name's true entity is the GT entry for its own
        # string, carried on EVERY candidate row of that name (ref
        # prepare_name_pairs.py:96 semantics: correct = entity_id ==
        # gt_entity_id).  It must NOT be null on non-matching candidates —
        # the fit filters to entity_id-known names and derives the label
        # from the equality, so a null-for-negatives encoding would leave
        # only positive pairs in the training set and the GBT would
        # degenerate to a constant score (caught by the
        # supervised_quality contract row: AUC was exactly 0.5).
        .join(
            part.groupBy(F.col("p_name").alias("preprocessed")).agg(
                F.min("p_partkey").alias("entity_id")
            ),
            "preprocessed",
        )
    )


def _supervised_model(spark: SparkSession, sf_dir: str):
    """The GBT scorer the scoring-only and quality queries share."""
    from entitymatchingmodel_spark.operators.supervised import SupervisedScorer

    return _fitted(spark, sf_dir, "supervised_model", lambda: SupervisedScorer(
        score_col="score", max_iter=8
    ).fit(_supervised_cands(spark, sf_dir)))


def q_supervised_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full supervised layer: GBT training + scored candidates + best-match
    flags.  Deliberately NOT registered — this query times the one-off fit.

    Not SQL-expressible (gradient-boosted model) -> rows-only check.
    """
    from entitymatchingmodel_spark.operators.supervised import SupervisedScorer

    cands = _supervised_cands(spark, sf_dir)
    model = SupervisedScorer(score_col="score", max_iter=8).fit(cands)
    out = model.transform(cands)
    return out.select("uid", "gt_uid", "nm_score", "best_rank", "best_match")


def q_supervised_score_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scoring-only supervised layer: the fitted GBT is fit-once state
    (:func:`_supervised_model`), so after the first call this query times
    the PER-BATCH scoring cost users pay at 100x — all-JVM feature
    expressions + tree eval — separately from the one-off boosting
    iterations ``supervised_scores`` measures.

    Not SQL-expressible (gradient-boosted model) -> rows-only check.
    """
    out = _supervised_model(spark, sf_dir).transform(_supervised_cands(spark, sf_dir))
    return out.select("uid", "gt_uid", "nm_score", "best_rank", "best_match")


def q_supervised_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-ROW model-quality witness for the supervised pair: precision@1
    over best-match rows and rank-sum AUC over all scored candidates,
    computed entirely as a plan (``training.auc_frame``'s rank-sum shape
    with the prec@1 sums fused into the same aggregation) — so the driver
    artifact itself records model quality next to the rows-only markers
    of ``supervised_scores``/``supervised_score_only``.

    Not SQL-expressible (gradient-boosted model) -> rows-only check;
    schema pinned in tests/test_schema_contract.py, thresholds asserted in
    tests/test_supervised_accuracy.py.
    """
    out = _supervised_model(spark, sf_dir).transform(_supervised_cands(spark, sf_dir))
    # same label rule as the fit: correct = entity_id == gt_entity_id
    scored = out.withColumn(
        "correct", F.col("entity_id") == F.col("gt_entity_id")
    ).filter(F.col("nm_score").isNotNull())
    # prec@1 rides the SAME per-distinct-score aggregation as the rank-sum
    # AUC (training.auc_frame's shape with two extra sums) — a separate
    # prec frame would need a 1x1 row combine, and any condition-free
    # 1-row join constant-folds into the BroadcastNestedLoopJoin the plan
    # audit bans wholesale.  One groupBy + one tiny window + one final
    # aggregate; nothing reaches the driver.
    g = scored.groupBy(F.col("nm_score").alias("_s")).agg(
        F.count("*").alias("_n"),
        F.sum(F.col("correct").cast("long")).alias("_pos"),
        F.sum(F.col("best_match").cast("long")).alias("_nb"),
        F.sum((F.col("best_match") & F.col("correct")).cast("long")).alias("_nbc"),
    )
    # un-partitioned total-order window, bounded by the number of DISTINCT
    # scores (the groupBy above), not by candidate rows — same cardinality
    # argument as training.auc_frame; do NOT copy this shape onto a
    # raw-row frame, where it would serialize the whole table through one
    # partition
    w = Window.orderBy("_s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = g.withColumn(
        "r", F.coalesce(F.sum("_n").over(w), F.lit(0)) + (F.col("_n") + 1) / 2.0
    )
    agg = ranked.agg(
        F.sum(F.col("_pos") * F.col("r")).alias("rs"),
        F.sum("_pos").alias("np"),
        F.sum("_n").alias("n"),
        F.sum("_nb").alias("nb"),
        F.sum("_nbc").alias("nbc"),
    )
    n_pos, n_neg = F.col("np"), F.col("n") - F.col("np")
    return agg.select(
        # nb=0 (no best_match row at all — the degenerate-model case this
        # witness exists to catch) must yield NULL, not an ANSI
        # DIVIDE_BY_ZERO that kills the correctness round
        F.round(F.when(F.col("nb") > 0, F.col("nbc") / F.col("nb")), 6).alias("prec_at_1"),
        F.coalesce(F.col("nb"), F.lit(0)).cast("long").alias("n_queries"),
        F.round(
            F.when(
                (n_pos > 0) & (n_neg > 0),
                (F.col("rs") - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg),
            ),
            6,
        ).alias("auc"),
        n_pos.cast("long").alias("n_pos"),
        n_neg.cast("long").alias("n_neg"),
    )


def q_tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational agg layer (filters/projections/aggregations, SURVEY §2.6)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_tpch_q6_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-scan revenue forecast (TPC-H Q6 shape, SURVEY §2.6): every
    predicate and the 3-column projection push down to the parquet scan
    (PushedFilters/ReadSchema), then one map-side-combined global agg —
    the plan where a 100 TB table costs only the pruned row groups."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def q_tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-agg-topk (TPC-H Q3 shape, SURVEY §2.6): filtered customer dim
    BROADCAST into the orders-lineitem shuffle join, partial-agg revenue
    per order, global top-10 via TakeOrderedAndProject (no full sort).
    Revenue is rounded BEFORE the rank so the top-10 set is engine-exact."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1997-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1997-03-15"))
    j = li.join(orders, li.l_orderkey == orders.o_orderkey).join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    return (
        j.groupBy(
            "l_orderkey",
            # string, not date: pandas renders Spark DateType and DuckDB
            # DATE differently (date object vs datetime64), which breaks
            # the driver's value hash on type formatting alone
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


# exact_quantiles contract constants — the oracle's VALUES list is
# generated from the same tuple
_QUANTILES = (0.01, 0.25, 0.5, 0.75, 0.9, 0.99, 1.0)


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM quality scoring (self-perplexity over the
    documents corpus): Laplace-smoothed counts as two aggregates, scoring
    as two left joins + one per-doc agg; avg log-prob rounded before
    perplexity derives from it, so the oracle is EXACT.

    r11: fit+score through BigramLM directly (identical computation to
    the one-shot bigram_lm_scores wrapper, which unpersists the count
    caches before the plan executes) so the persisted count tables are
    materialized once and read by both scoring joins; the bench scrub
    releases them."""
    from entitymatchingmodel_spark.operators.lm import BigramLM

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    model = BigramLM.fit(docs, "text", score_decimals=6)
    return model.score(docs, "doc_id", "text")


# clean-reference filter for the lm_fit_score row: the oracle fragment is
# GENERATED from this same constant (below), so query and oracle cannot
# desync.  'en' is the documents table's majority language — the CCNet
# "train on the clean corpus, score the crawl" split.
_LM_REF_FILTER = "lang = 'en'"


def q_lm_fit_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM through its FULL persistence cycle (the CCNet posture
    proper): FIT on the clean reference slice (_LM_REF_FILTER), SAVE the
    trained counts + V scalar, LOAD them back — fresh-session scoring, no
    reference access on the load side — then SCORE the whole corpus.
    Counts are integers and round-trip exactly, so the oracle (generated
    with the same reference filter) is EXACT."""
    import hashlib

    from entitymatchingmodel_spark.operators.lm import BigramLM

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    model = BigramLM.fit(docs.filter(_LM_REF_FILTER), "text", score_decimals=6)
    path = ("/tmp/emm_lm_model_"
            + hashlib.md5(os.path.realpath(sf_dir).encode()).hexdigest()[:12])
    model.save(path)
    model.unpersist()
    load_handles: list = []
    loaded = BigramLM.load(spark, path, persist_handles=load_handles)
    result = loaded.score(docs, "doc_id", "text")
    # this function runs once per bench repeat / correctness pass; a held
    # handle would leak one cached count table pair per call
    for h in load_handles:
        h.unpersist()
    return result


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture resampling (mC4/XLM-R alpha-sampling):
    shares proportional to count^0.5, binding group kept whole, map-only
    hash membership; fractions are sum-free order-safe float chains
    rounded before the membership compare, so the oracle is EXACT."""
    from entitymatchingmodel_spark.functions.sampling import temperature_mix

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    out = temperature_mix(docs, "doc_id", "lang", alpha=0.5)
    return out.select("doc_id", "lang")


def q_temperature_mix_up(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature resampling with UPSAMPLING (r8 — the other half of the
    mC4/XLM-R recipe): the largest count/target-ratio group anchors at
    repeat factor 1 and every tail group REPEATS (integer repeats via a
    map-only sequence+explode, fractional remainder hash-gated).  The
    repeat factors are the same sum-free order-safe float chain as
    temperature_mix, rounded before the gate, so the oracle is EXACT."""
    from entitymatchingmodel_spark.functions.sampling import temperature_mix

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    out = temperature_mix(docs, "doc_id", "lang", alpha=0.5,
                          allow_upsample=True)
    return out.select("doc_id", "lang", "copy")


# resample_to_mix contract weights — DYADIC doubles (exactly representable,
# so the weight sum is order-free exact in both engines); the oracle
# VALUES list is GENERATED from this same dict so query and oracle cannot
# desync.  en (the majority language) shrinks, the tail upsamples.
_RMIX_WEIGHTS = {"en": 0.25, "zh": 0.25, "es": 0.1875, "de": 0.1875, "fr": 0.125}


def q_resample_to_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target-mix resampling with total preservation (r8 — the DoReMi
    /fixed-mixture half of the upsampling family): group shares move to
    _RMIX_WEIGHTS while the corpus size is preserved, over-represented
    groups hash-downsampling and tail groups repeat-factor upsampling.
    Repeat factors are integer-count x dyadic-literal mul/div chains
    rounded before the gate — EXACT oracle."""
    from entitymatchingmodel_spark.functions.sampling import resample_to_mix

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    out = resample_to_mix(docs, "doc_id", "lang", _RMIX_WEIGHTS)
    return out.select("doc_id", "lang", "copy")


# unbounded-mixture contract row (r9): a synthesized high-cardinality
# domain-like key (source x md5-bucket — the C4 per-domain-quota shape on
# a table that carries no URL column).  The oracle fragment is GENERATED
# from these same constants so query and oracle cannot desync.
_DOM_SALT = "dom"
_DOM_BUCKETS = 199
_DOM_ALPHA = 0.5


def q_temperature_mix_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixing over an UNBOUNDED group cardinality (r9): the
    join-based formulation — group counts, the min-ratio anchor, and the
    per-group fraction all stay IN-PLAN (zero driver collect, no literal
    when-chain; plan size independent of group count), the fraction
    joined back on the group column.  Grouping key = source x 199
    md5-buckets (~hundreds of groups at sf0.01, scaling with the data —
    the per-domain C4 reality in miniature).  Same sum-free order-safe
    pow/div/min/mul chain as temperature_mix, rounded before the
    membership compare — EXACT oracle."""
    from entitymatchingmodel_spark.functions.sampling import (
        temperature_mix_unbounded,
    )

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit(_DOM_SALT), F.col("doc_id").cast("string")
                    )
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % _DOM_BUCKETS
    )
    d = docs.withColumn(
        "domain", F.concat_ws("_", F.col("source"), bucket.cast("string"))
    )
    out = temperature_mix_unbounded(d, "doc_id", "domain", alpha=_DOM_ALPHA)
    return out.select("doc_id", "domain")


def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact type-1 quantiles of lineitem prices WITHOUT a global sort
    (distinct-value counts -> monotone range buckets -> bucketed prefix
    sum -> rank lookup); exact because the result is a selected input
    value, never an interpolation."""
    from entitymatchingmodel_spark.functions.stats import exact_quantiles

    li = _t(spark, sf_dir, "lineitem")
    # r11: hold the distinct-value cache so the returned plan reads it at
    # execution instead of re-deriving the corpus shuffle (the bench
    # scrub releases it)
    return exact_quantiles(
        li, "l_extendedprice", _QUANTILES, n_buckets=64, persist_handles=[]
    )


_GQ_QUANTILES = (0.1, 0.5, 0.9, 1.0)


def q_grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantiles (p10/p50/p90/max document length per
    source), fully in-plan — no driver state, so the group count can be
    unbounded; distinct (group, value) counts collapse duplicates before
    any per-group ordering."""
    from entitymatchingmodel_spark.functions.stats import grouped_quantiles

    docs = _spread(spark, _t(spark, sf_dir, "documents")).select(
        "source", F.length("text").cast("double").alias("text_len")
    )
    return grouped_quantiles(docs, "source", "text_len", _GQ_QUANTILES)


def q_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """take_topn_per_group skew guard (SURVEY §2.7 W3): top-3 orders by price per customer segment."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", F.col("rn").alias("rn"))
    )


def q_cossim_char_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked char-2gram cosine top-k (SURVEY §2.5 J2, §4 X2): candidates
    restricted to equal first-character blocks — blocking is a real join
    key, so Catalyst prunes the pair space instead of post-filtering."""
    from entitymatchingmodel_spark.operators.cossim_indexer import (
        CosSimIndexer,
        first_char_block,
    )

    gt, names = _part_gt_names(spark, sf_dir)
    model = CosSimIndexer(
        tokenizer="characters", ngram=2, k=5, lower_bound=0.2,
        blocking_func=first_char_block, max_vocab=None, score_decimals=6,
    ).fit(gt)
    out = model.transform(names)
    return out.select("uid", "gt_uid", F.round("score", 6).alias("score"), "rank")


def q_naive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive all-pairs indexer (SURVEY §2.5 J4) on a bounded subset."""
    from entitymatchingmodel_spark.operators.naive_indexer import NaiveIndexer

    part = _t(spark, sf_dir, "part")
    gt = (
        part.filter(F.col("p_partkey") <= 500)
        .groupBy(F.col("p_name").alias("preprocessed"))
        .agg(F.min("p_partkey").alias("gt_uid"))
    )
    names = part.filter(F.col("p_partkey") <= 200).select(
        F.col("p_partkey").alias("uid"), F.col("p_name").alias("preprocessed")
    )
    return NaiveIndexer().fit(gt).transform(names)


def q_grouped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped stratified train/valid fold assignment (SURVEY §2.10 M11):
    all candidates of a uid land in one fold; fold = md5 hash of the
    group's (stratum, key) — deterministic across engines and runs."""
    from entitymatchingmodel_spark.operators.training import grouped_stratified_split

    cands = _labelled_cossim(spark, sf_dir)
    out = grouped_stratified_split(
        cands, group_col="uid", n_folds=5, stratum_cols=("correct",)
    )
    return out.select("uid", "gt_uid", "fold")


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed training-data curation: language filter -> quality filter ->
    exact-dedup (keep min doc_id) -> deterministic 50% sample.  One pipeline
    of native operators; every step is a pure expression or one shuffle."""
    from entitymatchingmodel_spark.functions.sampling import deterministic_sample
    from entitymatchingmodel_spark.functions.text import lang_id, quality_score
    from entitymatchingmodel_spark.operators.dedup import drop_exact_duplicates

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    docs = (
        docs.filter(lang_id(F.col("text")) == "en")
        .withColumn("quality", quality_score(F.col("text")))
        .filter(F.col("quality") >= 0.5)
    )
    docs = drop_exact_duplicates(docs, "doc_id", "text")
    out = deterministic_sample(docs, "doc_id", 0.5, salt="curate")
    return out.select("doc_id", "quality")


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (web-corpus 'at most N docs per domain'
    curation): deterministic hash-rank membership, one shuffle on source,
    output bounded at max_per_group rows per source regardless of skew."""
    from entitymatchingmodel_spark.functions.sampling import per_group_cap

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    out = per_group_cap(docs, "doc_id", "source", max_per_group=15)
    return out.select("doc_id", "source")


def q_sample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture resampling (train on 50% en / 25% de / 25% fr):
    the binding group is kept whole, others hash-downsampled to the target
    shares; bounded driver state (one count per group), map-only filter."""
    from entitymatchingmodel_spark.functions.sampling import sample_to_mix

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    out = sample_to_mix(docs, "doc_id", "lang",
                        {"en": 0.5, "de": 0.25, "fr": 0.25})
    return out.select("doc_id", "lang")


_SHARED_PASSAGE = (
    "the quick brown fox jumps over the lazy dog while seven wizards "
    "brew strong potions under a pale winter moon near the old stone bridge"
)


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-passage signal (Lee-et-al-style substring dedup,
    window-hash formulation): a fixed passage is appended to every 7th doc
    in BOTH engines, so those docs share corpus-wide duplicated windows;
    per-doc window counts + dup ratio are oracle-checked."""
    from entitymatchingmodel_spark.operators.dedup import duplicate_window_stats

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    docs = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" " + _SHARED_PASSAGE))
        ).otherwise(F.col("text")).alias("text"),
    )
    return duplicate_window_stats(docs, "doc_id", "text", window=12, stride=5)


def q_dedup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence-wins duplicated-passage REMOVAL (the cut half of
    dup_spans): same planted shared passage, rebuilt texts + removal
    counts oracle-checked."""
    from entitymatchingmodel_spark.operators.dedup import remove_duplicate_passages

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    docs = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" " + _SHARED_PASSAGE))
        ).otherwise(F.col("text")).alias("text"),
    )
    return remove_duplicate_passages(docs, "doc_id", "text", window=12, stride=5)


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (dup-token ratio, top-bigram cover)."""
    from entitymatchingmodel_spark.functions.text import repetition_stats

    docs = _spread(spark, _t(spark, sf_dir, "documents"))
    return repetition_stats(docs, "doc_id", "text")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dict ORDER is deliberate for the CORRECTNESS check only (bench.py
    runs the queries in its own seeded-shuffled order): the
    driver's correctness file holds at most 50 rows per round, so queries
    are listed most-in-need-of-a-check first.

    r11 window (first 50): (1) the four rows NEW in r11 (lang_id_joined,
    lang_id_kernel — the data-driven trigram scorer shapes, both pinned
    to lang_id's oracle; bloom_incremental_dedup — the Bloom-prefiltered
    exact dedup pinned to incremental_dedup's oracle; reputation_filter
    — per-source quality rollup selection); (2) the rows whose CODE
    changed in r11 —
    curate_batch and streaming_curation (scorer rewiring: kernel default
    scored post-dedup, the janino-64KB fix), lang_id (text.py hosts the
    new scorer shapes), ann_cosine_topk (the max_queries collect guard) and
    ivf_pq_refined (refine_topk's max_shortlist_rows guard); (3) the
    seven r8-green rows promised the r11 lead at the r10 rotation
    (url_normalize, tpch_q1_pricing, events_windowed, events_sessions,
    events_rollup, media_metadata, media_features) — with these green
    the oracle-checkable residue older than r9 is ZERO; (4) r9-green
    rows, churn-adjacent first (text.py consumers gopher_repetition /
    gopher_keep / blocklist_filter / repetition_stats / text_stats /
    doc_fingerprint; pq.py consumers pq_topk / ivf_pq_topk), then the
    two unattributed r10 bench movers under probe (semantic_dedup,
    streaming_time_join — see BENCH_NOTES r11), then the remaining
    r9-green rows in standing order up to the 50-row budget.

    Tail (62 = 112 - 50): the twelve r9-green rows the budget cannot
    hold (exact_quantiles and grouped_quantiles, displaced from the head
    by the two later r11 rows, plus preprocess_names, tfidf_vocab,
    media_frames, audio_stats, temperature_mix_domain, resample_domain,
    url_dedup, reg_domain, dsir_scores, dsir_resample — they lead the
    r12 rotation); the five
    rows-only-by-design queries (noised_names, supervised_*,
    quality_clf_scores — seeded RNG / ML scores, no SQL oracle wherever
    they sit); and the 45 rows green in the r10 window whose files r11
    did not change behaviorally."""
    return {
        # --- r11 window: new rows, r11-touched rows, the promised
        # r8-green seven, then r9-green churn-adjacent fill ---
        "lang_id_joined": q_lang_id_joined,
        "lang_id_kernel": q_lang_id_kernel,
        "bloom_incremental_dedup": q_bloom_incremental_dedup,
        "reputation_filter": q_reputation_filter,
        "near_dedup_incremental": q_near_dedup_incremental,
        "curate_batch": q_curate_batch,
        "streaming_curation": q_streaming_curation,
        "lang_id": q_lang_id,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ivf_pq_refined": q_ivf_pq_refined,
        "url_normalize": q_url_normalize,
        "tpch_q1_pricing": q_tpch_q1_pricing,
        "events_windowed": q_events_windowed,
        "events_sessions": q_events_sessions,
        "events_rollup": q_events_rollup,
        "media_metadata": q_media_metadata,
        "media_features": q_media_features,
        "gopher_repetition": q_gopher_repetition,
        "gopher_keep": q_gopher_keep,
        "blocklist_filter": q_blocklist_filter,
        "repetition_stats": q_repetition_stats,
        "text_stats": q_text_stats,
        "doc_fingerprint": q_doc_fingerprint,
        "pq_topk": q_pq_topk,
        "ivf_pq_topk": q_ivf_pq_topk,
        "semantic_dedup": q_semantic_dedup,
        "streaming_time_join": q_streaming_time_join,
        "curation_pipeline": q_curation_pipeline,
        "dedup_exact": q_dedup_exact,
        "country_match": q_country_match,
        "fuzzy_dedup": q_fuzzy_dedup,
        "line_dedup": q_line_dedup,
        "dup_spans": q_dup_spans,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "ngram_jaccard": q_ngram_jaccard,
        "embed_near_pairs": q_embed_near_pairs,
        "embed_near_pairs_bucketed": q_embed_near_pairs_bucketed,
        "dup_clusters_star": q_dup_clusters_star,
        "contamination": q_contamination,
        "streaming_sessions": q_streaming_sessions,
        "pack_sequences": q_pack_sequences,
        "events_interval_join_left": q_events_interval_join_left,
        "events_interval_join": q_events_interval_join,
        "events_asof": q_events_asof,
        "events_asof_forward": q_events_asof_forward,
        "events_sliding": q_events_sliding,
        "events_json": q_events_json,
        "cossim_broadcast_topk": q_cossim_broadcast_topk,
        "pii_scrub": q_pii_scrub,
        "tpch_q6_forecast": q_tpch_q6_forecast,
        "tpch_q3_shipping": q_tpch_q3_shipping,
        "exact_quantiles": q_exact_quantiles,
        "grouped_quantiles": q_grouped_quantiles,
        # --- tail: r9-green rows past the 50-row budget (lead the r12
        # rotation) ---
        "preprocess_names": q_preprocess_names,
        "tfidf_vocab": q_tfidf_vocab,
        "media_frames": q_media_frames,
        "audio_stats": q_audio_stats,
        "temperature_mix_domain": q_temperature_mix_domain,
        "resample_domain": q_resample_domain,
        "url_dedup": q_url_dedup,
        "reg_domain": q_reg_domain,
        "dsir_scores": q_dsir_scores,
        "dsir_resample": q_dsir_resample,
        # --- tail: rows-only-by-design ---
        "noised_names": q_noised_names,
        "supervised_scores": q_supervised_scores,
        "supervised_score_only": q_supervised_score_only,
        "supervised_quality": q_supervised_quality,
        "quality_clf_scores": q_quality_clf_scores,
        # --- tail: r10-green rows (files unchanged or additively
        # extended since their green row) ---
        "refinedweb_lines": q_refinedweb_lines,
        "incremental_dedup": q_incremental_dedup,
        "c4_rules": q_c4_rules,
        "pareto_select": q_pareto_select,
        "gopher_quality": q_gopher_quality,
        "corpus_stats": q_corpus_stats,
        "chunk_docs": q_chunk_docs,
        "top_terms": q_top_terms,
        "dedup_drop": q_dedup_drop,
        "dedup_passages": q_dedup_passages,
        "dup_clusters": q_dup_clusters,
        "simhash": q_simhash,
        "minhash_signatures": q_minhash_signatures,
        "simhash_near_pairs": q_simhash_near_pairs,
        "lef_match": q_lef_match,
        "lm_fit_score": q_lm_fit_score,
        "lm_perplexity": q_lm_perplexity,
        "ppl_bands": q_ppl_bands,
        "temperature_mix": q_temperature_mix,
        "temperature_mix_up": q_temperature_mix_up,
        "resample_to_mix": q_resample_to_mix,
        "sample_mix": q_sample_mix,
        "source_cap": q_source_cap,
        "token_budget_sample": q_token_budget_sample,
        "stratified_sample": q_stratified_sample,
        "grouped_split": q_grouped_split,
        "vocab_features": q_vocab_features,
        "pair_features": q_pair_features,
        "agg_max_freq": q_agg_max_freq,
        "agg_mean_score": q_agg_mean_score,
        "cossim_char_blocked": q_cossim_char_blocked,
        "cossim_word_topk": q_cossim_word_topk,
        "cossim_lsh_topk": q_cossim_lsh_topk,
        "topn_per_group": q_topn_per_group,
        "naive_pairs": q_naive_pairs,
        "sni_window": q_sni_window,
        "rank_features": q_rank_features,
        "best_match": q_best_match,
        "threshold_curves": q_threshold_curves,
        "auc": q_auc,
        "kmeans_stream_assign": q_kmeans_stream_assign,
        "kmeans_clusters": q_kmeans_clusters,
        "cluster_balanced_sample": q_cluster_balanced_sample,
        "ivf_topk": q_ivf_topk,
        "ivf_index_topk": q_ivf_index_topk,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

# Shared CTE: cosine top-k candidates over part names (word tokens, idf per
# Spark convention ln((N+1)/(df+1)), L2-normalized, round-6 scores, k=5,
# lower_bound 0.1, tie-break gt_uid desc).
_SQL_CANDS = """
        gt AS (SELECT p_name AS name, min(p_partkey) AS gt_uid FROM part GROUP BY p_name),
        nm AS (SELECT p_partkey AS uid, p_name AS name FROM part),
        gtok AS (SELECT gt_uid, unnest(list_distinct(list_filter(
                   regexp_split_to_array(name,'[^a-zA-Z0-9]+'), x -> x <> ''))) AS token FROM gt),
        n AS (SELECT count(*) AS n_docs FROM gt),
        vocab AS (SELECT token, count(*) AS df FROM gtok GROUP BY token),
        idf AS (SELECT token, ln((n_docs+1.0)/(df+1.0)) AS idf FROM vocab, n),
        gw AS (SELECT gt_uid, g.token, idf FROM gtok g JOIN idf USING(token)),
        gn AS (SELECT gt_uid, sqrt(sum(idf*idf)) AS nrm FROM gw GROUP BY gt_uid),
        gwn AS (SELECT gt_uid, token, idf/nrm AS wt FROM gw JOIN gn USING(gt_uid)),
        ntok AS (SELECT uid, unnest(list_distinct(list_filter(
                   regexp_split_to_array(name,'[^a-zA-Z0-9]+'), x -> x <> ''))) AS token FROM nm),
        nw AS (SELECT uid, t.token, idf FROM ntok t JOIN idf USING(token)),
        nn AS (SELECT uid, sqrt(sum(idf*idf)) AS nrm FROM nw GROUP BY uid),
        nwn AS (SELECT uid, token, idf/nrm AS wt FROM nw JOIN nn USING(uid)),
        pairs AS (SELECT uid, gt_uid, round(sum(q.wt*g.wt), 6) AS score
                  FROM nwn q JOIN gwn g USING(token) GROUP BY uid, gt_uid),
        cand AS (SELECT uid, gt_uid, score FROM (
                   SELECT uid, gt_uid, score,
                          row_number() OVER (PARTITION BY uid ORDER BY score DESC, gt_uid DESC) AS rnk
                   FROM pairs WHERE score > 0.1) WHERE rnk <= 5)
"""

# Shared CTE: word-shingle MinHash signatures (32 hashes, 3-word shingles,
# md5-derived 28-bit base hash, universal-hash family mod 2^61-1).
# The permutation constants are generated by the SAME Python function the
# Spark operator uses (dedup.perm_constants), inlined as a VALUES list.
def _perm_values_sql() -> str:
    from entitymatchingmodel_spark.operators.dedup import perm_constants

    rows = ", ".join(
        f"({i}, {perm_constants(i)[0]}, {perm_constants(i)[1]})" for i in range(32)
    )
    return f"(VALUES {rows}) AS t(hash_idx, c1, c2)"


_SQL_MINHASH = f"""
        tokarr AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
                     '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents),
        sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
               FROM (SELECT doc_id, toks,
                            unnest(generate_series(1, greatest(len(toks)-2, 0))) AS i
                     FROM tokarr)),
        hv AS (SELECT doc_id, CAST(concat('0x', substring(md5(shingle),1,7)) AS BIGINT) AS h FROM sh),
        perm AS (SELECT CAST(hash_idx AS INT) AS hash_idx, c1, c2 FROM {_perm_values_sql()}),
        grid AS (SELECT doc_id, hash_idx, c2, (xor(h, h >> 16) * c1) % 4294967296 AS x1
                 FROM hv, perm),
        grid2 AS (SELECT doc_id, hash_idx, (xor(x1, x1 >> 15) * c2) % 4294967296 AS x2
                  FROM grid),
        minh AS (SELECT doc_id, hash_idx, min(xor(x2, x2 >> 16)) AS minhash
                 FROM grid2 GROUP BY doc_id, hash_idx)
"""

# GENERATED bigram-LM oracle, parameterized by the reference-corpus filter
# so the self-perplexity row (lm_perplexity, ref = whole corpus) and the
# persistence-cycle row (lm_fit_score, ref = _LM_REF_FILTER) share one
# fragment and cannot desync from each other: mirrors operators/lm.py
# exactly — same tokenization as every text oracle, Laplace a=1, V =
# distinct reference tokens, avg log2 rounded BEFORE perplexity derives
# from it.
def _lm_oracle_sql(ref_where: str) -> str:
    return f"""
        WITH rtok AS (SELECT list_filter(regexp_split_to_array(lower(text),
                        '[^a-z0-9]+'), x -> x <> '') AS toks
                      FROM documents WHERE {ref_where}),
        rbg AS (SELECT toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
                FROM (SELECT toks,
                             unnest(generate_series(1, len(toks) - 1)) AS i
                      FROM rtok WHERE len(toks) >= 2)),
        c12 AS (SELECT w1, w2, count(*) AS c12 FROM rbg GROUP BY w1, w2),
        c1 AS (SELECT w1, count(*) AS c1 FROM rbg GROUP BY w1),
        v AS (SELECT count(DISTINCT t) AS v
              FROM (SELECT unnest(toks) AS t FROM rtok)),
        tok AS (SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                              x -> x <> '') AS toks
                FROM documents),
        bg AS (SELECT doc_id, toks[CAST(i AS INT)] AS w1,
                      toks[CAST(i AS INT) + 1] AS w2
               FROM (SELECT doc_id, toks,
                            unnest(generate_series(1, len(toks) - 1)) AS i
                     FROM tok WHERE len(toks) >= 2)),
        lp AS (SELECT b.doc_id,
                      log2((coalesce(c12.c12, 0) + 1.0)
                           / (coalesce(c1.c1, 0) + 1.0 * (SELECT v FROM v))) AS lp
               FROM bg b LEFT JOIN c1 USING (w1) LEFT JOIN c12 USING (w1, w2)),
        pd AS (SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_logp
               FROM lp GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(coalesce(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
               pd.avg_logp,
               round(pow(2.0, -pd.avg_logp), 6) AS perplexity
        FROM documents d LEFT JOIN pd USING (doc_id)
    """


_ORACLE = {
    "preprocess_names": """
        SELECT p_partkey,
               trim(regexp_replace(
                 lower(trim(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(concat('  ', upper(p_name), ' - ', p_brand, '! '),
                                        '[\\n\\r]', ' ', 'g'),
                       '[‐‑‒–—―−]', '-', 'g'),
                     '[-_]', ' ', 'g'),
                   '[[:punct:]$=“”¨]', ' ', 'g')
                 )),
               '\\s+', ' ', 'g')) AS preprocessed
        FROM part
    """,
    "tfidf_vocab": """
        WITH tok AS (
          SELECT doc_id, unnest(list_distinct(list_filter(
                   regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> ''))) AS token
          FROM documents
        ), n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT token, count(*) AS df,
               round(ln((n_docs + 1.0) / (count(*) + 1.0)), 8) AS idf
        FROM tok, n GROUP BY token, n_docs
    """,
    "cossim_word_topk": """
        WITH gt AS (SELECT p_name AS name, min(p_partkey) AS gt_uid FROM part GROUP BY p_name),
        nm AS (SELECT p_partkey AS uid, p_name AS name FROM part),
        gtok AS (SELECT gt_uid, unnest(list_distinct(list_filter(
                   regexp_split_to_array(name,'[^a-zA-Z0-9]+'), x -> x <> ''))) AS token FROM gt),
        n AS (SELECT count(*) AS n_docs FROM gt),
        vocab AS (SELECT token, count(*) AS df FROM gtok GROUP BY token),
        idf AS (SELECT token, ln((n_docs+1.0)/(df+1.0)) AS idf FROM vocab, n),
        gw AS (SELECT gt_uid, g.token, idf FROM gtok g JOIN idf USING(token)),
        gn AS (SELECT gt_uid, sqrt(sum(idf*idf)) AS nrm FROM gw GROUP BY gt_uid),
        gwn AS (SELECT gt_uid, token, idf/nrm AS wt FROM gw JOIN gn USING(gt_uid)),
        ntok AS (SELECT uid, unnest(list_distinct(list_filter(
                   regexp_split_to_array(name,'[^a-zA-Z0-9]+'), x -> x <> ''))) AS token FROM nm),
        nw AS (SELECT uid, t.token, idf FROM ntok t JOIN idf USING(token)),
        nn AS (SELECT uid, sqrt(sum(idf*idf)) AS nrm FROM nw GROUP BY uid),
        nwn AS (SELECT uid, token, idf/nrm AS wt FROM nw JOIN nn USING(uid)),
        pairs AS (SELECT uid, gt_uid, round(sum(q.wt*g.wt), 6) AS score
                  FROM nwn q JOIN gwn g USING(token) GROUP BY uid, gt_uid),
        ranked AS (SELECT uid, gt_uid, score,
                          row_number() OVER (PARTITION BY uid ORDER BY score DESC, gt_uid DESC) AS rank
                   FROM pairs WHERE score > 0.1)
        SELECT uid, gt_uid, round(score, 6) AS score, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 5
    """,
    # LSH strategy: identical tf-idf CTEs, then MinHash signatures over the
    # IN-VOCAB token sets of both sides (the Spark side signs the tfidf
    # transform output, which drops OOV tokens), banded 8x4 with the same
    # permutation family as the document-LSH oracle; the exact rescore runs
    # only over band-colliding candidate pairs.
    "cossim_lsh_topk": f"""
        WITH gt AS (SELECT p_name AS name, min(p_partkey) AS gt_uid FROM part GROUP BY p_name),
        nm AS (SELECT p_partkey AS uid, p_name AS name FROM part),
        gtok AS (SELECT gt_uid, unnest(list_distinct(list_filter(
                   regexp_split_to_array(name,'[^a-zA-Z0-9]+'), x -> x <> ''))) AS token FROM gt),
        n AS (SELECT count(*) AS n_docs FROM gt),
        vocab AS (SELECT token, count(*) AS df FROM gtok GROUP BY token),
        idf AS (SELECT token, ln((n_docs+1.0)/(df+1.0)) AS idf FROM vocab, n),
        gw AS (SELECT gt_uid, g.token, idf FROM gtok g JOIN idf USING(token)),
        gn AS (SELECT gt_uid, sqrt(sum(idf*idf)) AS nrm FROM gw GROUP BY gt_uid),
        gwn AS (SELECT gt_uid, token, idf/nrm AS wt FROM gw JOIN gn USING(gt_uid)),
        ntok AS (SELECT uid, unnest(list_distinct(list_filter(
                   regexp_split_to_array(name,'[^a-zA-Z0-9]+'), x -> x <> ''))) AS token FROM nm),
        nw AS (SELECT uid, t.token, idf FROM ntok t JOIN idf USING(token)),
        nn AS (SELECT uid, sqrt(sum(idf*idf)) AS nrm FROM nw GROUP BY uid),
        nwn AS (SELECT uid, token, idf/nrm AS wt FROM nw JOIN nn USING(uid)),
        perm AS (SELECT CAST(hash_idx AS INT) AS hash_idx, c1, c2 FROM {_perm_values_sql()}),
        ghv AS (SELECT gt_uid, CAST(concat('0x', substring(md5(token),1,7)) AS BIGINT) AS h FROM gw),
        gg1 AS (SELECT gt_uid, hash_idx, c2, (xor(h, h >> 16) * c1) % 4294967296 AS x1 FROM ghv, perm),
        gg2 AS (SELECT gt_uid, hash_idx, (xor(x1, x1 >> 15) * c2) % 4294967296 AS x2 FROM gg1),
        gmh AS (SELECT gt_uid, hash_idx, min(xor(x2, x2 >> 16)) AS mh FROM gg2 GROUP BY gt_uid, hash_idx),
        gbk AS (SELECT gt_uid, hash_idx // 4 AS band,
                       md5(string_agg(mh::VARCHAR, ',' ORDER BY hash_idx)) AS bkey
                FROM gmh GROUP BY gt_uid, band),
        nhv AS (SELECT DISTINCT uid, CAST(concat('0x', substring(md5(token),1,7)) AS BIGINT) AS h FROM nw),
        ng1 AS (SELECT uid, hash_idx, c2, (xor(h, h >> 16) * c1) % 4294967296 AS x1 FROM nhv, perm),
        ng2 AS (SELECT uid, hash_idx, (xor(x1, x1 >> 15) * c2) % 4294967296 AS x2 FROM ng1),
        nmh AS (SELECT uid, hash_idx, min(xor(x2, x2 >> 16)) AS mh FROM ng2 GROUP BY uid, hash_idx),
        nbk AS (SELECT uid, hash_idx // 4 AS band,
                       md5(string_agg(mh::VARCHAR, ',' ORDER BY hash_idx)) AS bkey
                FROM nmh GROUP BY uid, band),
        cands AS (SELECT DISTINCT q.uid, g.gt_uid
                  FROM nbk q JOIN gbk g ON q.band = g.band AND q.bkey = g.bkey),
        pairs AS (SELECT q.uid, g.gt_uid, round(sum(q.wt*g.wt), 6) AS score
                  FROM nwn q JOIN gwn g USING(token)
                  JOIN cands c ON c.uid = q.uid AND c.gt_uid = g.gt_uid
                  GROUP BY q.uid, g.gt_uid),
        ranked AS (SELECT uid, gt_uid, score,
                          row_number() OVER (PARTITION BY uid ORDER BY score DESC, gt_uid DESC) AS rank
                   FROM pairs WHERE score > 0.1)
        SELECT uid, gt_uid, round(score, 6) AS score, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 5
    """,
    "cossim_broadcast_topk": """
        WITH gt AS (SELECT p_name AS name, min(p_partkey) AS gt_uid FROM part GROUP BY p_name),
        nm AS (SELECT p_partkey AS uid, p_name AS name FROM part),
        gtok AS (SELECT gt_uid, unnest(list_distinct(list_filter(
                   regexp_split_to_array(name,'[^a-zA-Z0-9]+'), x -> x <> ''))) AS token FROM gt),
        n AS (SELECT count(*) AS n_docs FROM gt),
        vocab AS (SELECT token, count(*) AS df FROM gtok GROUP BY token),
        idf AS (SELECT token, ln((n_docs+1.0)/(df+1.0)) AS idf FROM vocab, n),
        gw AS (SELECT gt_uid, g.token, idf FROM gtok g JOIN idf USING(token)),
        gn AS (SELECT gt_uid, sqrt(sum(idf*idf)) AS nrm FROM gw GROUP BY gt_uid),
        gwn AS (SELECT gt_uid, token, idf/nrm AS wt FROM gw JOIN gn USING(gt_uid)),
        ntok AS (SELECT uid, unnest(list_distinct(list_filter(
                   regexp_split_to_array(name,'[^a-zA-Z0-9]+'), x -> x <> ''))) AS token FROM nm),
        nw AS (SELECT uid, t.token, idf FROM ntok t JOIN idf USING(token)),
        nn AS (SELECT uid, sqrt(sum(idf*idf)) AS nrm FROM nw GROUP BY uid),
        nwn AS (SELECT uid, token, idf/nrm AS wt FROM nw JOIN nn USING(uid)),
        pairs AS (SELECT uid, gt_uid, round(sum(q.wt*g.wt), 6) AS score
                  FROM nwn q JOIN gwn g USING(token) GROUP BY uid, gt_uid),
        ranked AS (SELECT uid, gt_uid, score,
                          row_number() OVER (PARTITION BY uid ORDER BY score DESC, gt_uid DESC) AS rank
                   FROM pairs WHERE score > 0.1)
        SELECT uid, gt_uid, round(score, 6) AS score, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 5
    """,
    "sni_window": """
        WITH gt AS (SELECT p_name AS name, min(p_partkey) AS gt_uid FROM part GROUP BY p_name),
        nm AS (SELECT p_partkey AS uid, p_name AS name FROM part),
        keys AS (SELECT DISTINCT name FROM (SELECT name FROM nm UNION ALL SELECT name FROM gt)),
        ranked AS (SELECT name, row_number() OVER (ORDER BY name) - 1 AS r FROM keys),
        gtr AS (SELECT gt_uid, r AS gt_r FROM gt JOIN ranked USING(name)),
        nmr AS (SELECT uid, r FROM nm JOIN ranked USING(name))
        SELECT uid, gt_uid,
               round(1.0 - abs(gt_r - r) / 3.0, 6) AS score,
               CAST(gt_r - r AS INT) AS rank
        FROM nmr JOIN gtr ON abs(gt_r - r) <= 2
    """,
    # The f_ratio / f_partial_ratio / f_wratio oracle mirrors the pure-Python
    # rapidfuzz-parity implementation: indel similarity via the same
    # bit-parallel LCS (Allison-Dix) expressed with list_reduce over BIGINT
    # bit vectors (exact for strings <= 62 chars; test names are <= 12).
    "pair_features": """
        WITH gt AS (SELECT p_name AS name, min(p_partkey) AS gt_uid FROM part GROUP BY p_name),
        nm AS (SELECT p_partkey AS uid, p_name AS name FROM part),
        keys AS (SELECT DISTINCT name FROM (SELECT name FROM nm UNION ALL SELECT name FROM gt)),
        ranked AS (SELECT name, row_number() OVER (ORDER BY name) - 1 AS r FROM keys),
        gtr AS (SELECT gt_uid, name AS gname, r AS gt_r FROM gt JOIN ranked USING(name)),
        nmr AS (SELECT uid, name, r FROM nm JOIN ranked USING(name)),
        prs AS (SELECT uid, gt_uid, name AS a, gname AS b FROM nmr JOIN gtr ON abs(gt_r - r) <= 2),
        tk AS (SELECT uid, gt_uid, a, b,
                 list_distinct(list_filter(regexp_split_to_array(lower(a),'[^a-z0-9]+'), x -> x<>'')) AS ta,
                 list_distinct(list_filter(regexp_split_to_array(lower(b),'[^a-z0-9]+'), x -> x<>'')) AS tb,
                 array_to_string(list_sort(list_filter(regexp_split_to_array(lower(a),'[^a-z0-9]+'), x -> x<>'')), ' ') AS sa,
                 array_to_string(list_sort(list_filter(regexp_split_to_array(lower(b),'[^a-z0-9]+'), x -> x<>'')), ' ') AS sb
               FROM prs),
        tks AS (SELECT *,
                 array_to_string(list_sort(list_intersect(ta, tb)), ' ') AS sect,
                 array_to_string(list_sort(list_filter(ta, x -> NOT list_contains(tb, x))), ' ') AS d1,
                 array_to_string(list_sort(list_filter(tb, x -> NOT list_contains(ta, x))), ' ') AS d2
               FROM tk),
        tkc AS (SELECT * EXCLUDE (d1, d2),
                 CASE WHEN sect='' THEN d1 WHEN d1='' THEN sect ELSE sect || ' ' || d1 END AS c1,
                 CASE WHEN sect='' THEN d2 WHEN d2='' THEN sect ELSE sect || ' ' || d2 END AS c2
               FROM tks),
        plain AS (
          SELECT uid, gt_uid, u.fam AS fam, u.x AS x, u.y AS y
          FROM tkc, unnest([
            {'fam': 'r',   'x': a,    'y': b},
            {'fam': 'ts',  'x': sa,   'y': sb},
            {'fam': 'se1', 'x': sect, 'y': c1},
            {'fam': 'se2', 'x': sect, 'y': c2},
            {'fam': 'se3', 'x': c1,   'y': c2}
          ]) AS t(u)
        ),
        pfam AS (
          SELECT uid, gt_uid, fam,
                 CASE WHEN length(x0) <= length(y0) THEN x0 ELSE y0 END AS x,
                 CASE WHEN length(x0) <= length(y0) THEN y0 ELSE x0 END AS y
          FROM (SELECT uid, gt_uid, u.fam AS fam, u.x AS x0, u.y AS y0
                FROM tkc, unnest([
                  {'fam': 'p',   'x': a,    'y': b},
                  {'fam': 'pts', 'x': sa,   'y': sb},
                  {'fam': 'ps1', 'x': sect, 'y': c1},
                  {'fam': 'ps2', 'x': sect, 'y': c2},
                  {'fam': 'ps3', 'x': c1,   'y': c2}
                ]) AS t(u))
        ),
        pjobs AS (
          SELECT uid, gt_uid, fam, x,
                 substr(y, greatest(0, off) + 1, off + length(x) - greatest(0, off)) AS y
          FROM pfam, unnest(range(1 - length(x), length(y))) AS o(off)
          WHERE length(x) > 0
        ),
        jobs AS (SELECT * FROM plain UNION ALL SELECT * FROM pjobs),
        sc AS (
          SELECT uid, gt_uid, fam, max(
            CASE WHEN length(x) + length(y) = 0 THEN 100.0
                 ELSE 200.0 * (length(x) - bit_count(list_reduce(
                        list_prepend((1::BIGINT << length(x)) - 1,
                          list_transform(range(1, length(y)+1), j ->
                            CAST(list_sum(list_transform(range(1, length(x)+1), k ->
                              CASE WHEN substr(x,k,1) = substr(y,j,1)
                                   THEN (1::BIGINT << (k-1)) ELSE 0::BIGINT END)) AS BIGINT))),
                        (V, P) -> ((V + (V & P)) | (V - (V & P))) & ((1::BIGINT << length(x)) - 1))))
                      / (length(x) + length(y))
            END) AS s
          FROM jobs GROUP BY uid, gt_uid, fam
        ),
        pv AS (
          SELECT uid, gt_uid,
            max(CASE WHEN fam='r'   THEN s END) AS r,
            max(CASE WHEN fam='ts'  THEN s END) AS ts,
            max(CASE WHEN fam='se1' THEN s END) AS se1,
            max(CASE WHEN fam='se2' THEN s END) AS se2,
            max(CASE WHEN fam='se3' THEN s END) AS se3,
            max(CASE WHEN fam='p'   THEN s END) AS p,
            max(CASE WHEN fam='pts' THEN s END) AS pts,
            max(CASE WHEN fam='ps1' THEN s END) AS ps1,
            max(CASE WHEN fam='ps2' THEN s END) AS ps2,
            max(CASE WHEN fam='ps3' THEN s END) AS ps3
          FROM sc GROUP BY uid, gt_uid
        ),
        fz AS (
          SELECT t.*, pv.r, pv.ts,
            greatest(pv.se1, pv.se2, pv.se3) AS tset,
            coalesce(pv.p,   CASE WHEN length(t.a)=0  AND length(t.b)=0  THEN 100.0 ELSE 0.0 END) AS p,
            coalesce(pv.pts, CASE WHEN length(t.sa)=0 AND length(t.sb)=0 THEN 100.0 ELSE 0.0 END) AS pts,
            greatest(
              coalesce(pv.ps1, CASE WHEN length(t.sect)=0 AND length(t.c1)=0 THEN 100.0 ELSE 0.0 END),
              coalesce(pv.ps2, CASE WHEN length(t.sect)=0 AND length(t.c2)=0 THEN 100.0 ELSE 0.0 END),
              coalesce(pv.ps3, CASE WHEN length(t.c1)=0  AND length(t.c2)=0 THEN 100.0 ELSE 0.0 END)) AS ptset
          FROM tkc t JOIN pv USING (uid, gt_uid)
        )
        SELECT uid, gt_uid,
               round(CASE WHEN greatest(length(a), length(b)) = 0 THEN 1.0
                     ELSE 1.0 - levenshtein(a,b)/CAST(greatest(length(a),length(b)) AS DOUBLE) END, 6) AS f_norm_ed,
               round(CASE WHEN greatest(length(sa), length(sb)) = 0 THEN 1.0
                     ELSE 1.0 - levenshtein(sa,sb)/CAST(greatest(length(sa),length(sb)) AS DOUBLE) END, 6) AS f_token_sort,
               round(CASE WHEN len(ta)+len(tb)-len(list_intersect(ta,tb)) = 0 THEN 1.0
                     ELSE len(list_intersect(ta,tb))/CAST(len(ta)+len(tb)-len(list_intersect(ta,tb)) AS DOUBLE) END, 6) AS f_token_set,
               CAST(starts_with(a,b) OR starts_with(b,a) AS INT)::DOUBLE AS f_name_cut,
               CAST(array_to_string(list_transform(tb, t -> substr(t,1,1)), '') = replace(lower(a),' ','')
                    OR array_to_string(list_transform(ta, t -> substr(t,1,1)), '') = replace(lower(b),' ','') AS INT)::DOUBLE AS f_abbr_match,
               CAST(abs(length(a) - length(b)) AS DOUBLE) AS f_abs_len_diff,
               round(least(length(a),length(b))/CAST(greatest(length(a),length(b),1) AS DOUBLE), 6) AS f_len_ratio,
               round(r, 6) AS f_ratio,
               round(p, 6) AS f_partial_ratio,
               round(CASE WHEN length(a) = 0 OR length(b) = 0 THEN 0.0
                          WHEN CAST(greatest(length(a),length(b)) AS DOUBLE) / least(length(a),length(b)) < 1.5
                            THEN greatest(r, greatest(ts, tset) * 0.95)
                          WHEN CAST(greatest(length(a),length(b)) AS DOUBLE) / least(length(a),length(b)) < 8
                            THEN greatest(r, p * 0.9, greatest(pts, ptset) * 0.95 * 0.9)
                          ELSE greatest(r, p * 0.6, greatest(pts, ptset) * 0.95 * 0.6)
                     END, 6) AS f_wratio
        FROM fz
    """,
    "rank_features": f"""
        WITH {_SQL_CANDS},
        r5 AS (SELECT uid, gt_uid, round(score, 5) AS s FROM cand)
        SELECT uid, gt_uid,
               CAST(row_number() OVER (PARTITION BY uid ORDER BY s DESC, gt_uid DESC) AS DOUBLE) AS f_rank,
               round(max(s) OVER (PARTITION BY uid) - s, 5) AS f_dist_to_max,
               round(s - min(s) OVER (PARTITION BY uid), 5) AS f_dist_to_min,
               round(max(s) OVER (PARTITION BY uid) - min(s) OVER (PARTITION BY uid), 5) AS f_ptp,
               round(s - lag(s) OVER (PARTITION BY uid ORDER BY s ASC, gt_uid ASC), 5) AS f_diff_to_next,
               round(lead(s) OVER (PARTITION BY uid ORDER BY s ASC, gt_uid ASC) - s, 5) AS f_diff_to_prev
        FROM r5
    """,
    "best_match": f"""
        WITH {_SQL_CANDS},
        bm AS (SELECT uid, gt_uid, score,
                      row_number() OVER (PARTITION BY uid ORDER BY round(score,5) DESC, gt_uid DESC) AS br
               FROM cand)
        SELECT uid, gt_uid, CAST(br AS INT) AS best_rank,
               (br = 1 AND score IS NOT NULL AND score > 0) AS best_match
        FROM bm
    """,
    "agg_mean_score": f"""
        WITH {_SQL_CANDS},
        enr AS (SELECT c.uid, c.gt_uid AS gt_entity_id, c.score,
                       p.p_brand AS account, p.p_name AS name
                FROM cand c JOIN part p ON c.uid = p.p_partkey),
        rep AS (SELECT account, gt_entity_id, name AS rep_name,
                       row_number() OVER (PARTITION BY account, gt_entity_id
                                          ORDER BY score DESC, name DESC) AS rn
                FROM enr),
        per AS (SELECT account, gt_entity_id, round(avg(score), 6) AS agg_score
                FROM enr GROUP BY account, gt_entity_id),
        win AS (SELECT per.account, per.gt_entity_id, per.agg_score, r.rep_name,
                       row_number() OVER (PARTITION BY per.account
                                          ORDER BY per.agg_score DESC, per.gt_entity_id DESC) AS arn
                FROM per JOIN rep r ON per.account = r.account AND per.gt_entity_id = r.gt_entity_id
                WHERE r.rn = 1)
        SELECT account, gt_entity_id, agg_score, rep_name FROM win WHERE arn = 1
    """,
    "agg_max_freq": f"""
        WITH {_SQL_CANDS},
        enr AS (SELECT c.uid, c.gt_uid AS gt_entity_id, c.score,
                       p.p_brand AS account, p.p_name AS name,
                       CAST(p.p_size AS DOUBLE) AS freq
                FROM cand c JOIN part p ON c.uid = p.p_partkey),
        rep AS (SELECT account, gt_entity_id, name AS rep_name,
                       row_number() OVER (PARTITION BY account, gt_entity_id
                                          ORDER BY freq*score DESC, name DESC) AS rn
                FROM enr),
        per AS (SELECT account, gt_entity_id,
                       round(sum(freq*score)/sum(freq), 6) AS agg_score
                FROM enr GROUP BY account, gt_entity_id),
        win AS (SELECT per.account, per.gt_entity_id, per.agg_score, r.rep_name,
                       row_number() OVER (PARTITION BY per.account
                                          ORDER BY per.agg_score DESC, per.gt_entity_id DESC) AS arn
                FROM per JOIN rep r ON per.account = r.account AND per.gt_entity_id = r.gt_entity_id
                WHERE r.rn = 1)
        SELECT account, gt_entity_id, agg_score, rep_name FROM win WHERE arn = 1
    """,
    "minhash_signatures": f"""
        WITH {_SQL_MINHASH}
        SELECT doc_id, hash_idx, minhash FROM minh
    """,
    # near_dedup_incremental: the admitted slice's distinct band buckets,
    # drop-on-collision for the full snapshot — same minhash/band
    # fragments as minhash_lsh_pairs; no-shingle docs have no minh rows
    # (kept), matching the engine's md5('')-band exclusion
    "near_dedup_incremental": f"""
        WITH {_SQL_MINHASH},
        bkeys AS (SELECT doc_id, hash_idx // 4 AS band,
                         md5(string_agg(minhash::VARCHAR, ',' ORDER BY hash_idx)) AS bkey
                  FROM minh GROUP BY doc_id, band),
        idx AS (SELECT DISTINCT band, bkey FROM bkeys WHERE doc_id % 3 = 0),
        hits AS (SELECT DISTINCT b.doc_id FROM bkeys b
                 JOIN idx ON b.band = idx.band AND b.bkey = idx.bkey)
        SELECT d.doc_id, d.lang, d.source FROM documents d
        WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.doc_id = d.doc_id)
    """,
    "minhash_lsh_pairs": f"""
        WITH {_SQL_MINHASH},
        bkeys AS (SELECT doc_id, hash_idx // 4 AS band,
                         md5(string_agg(minhash::VARCHAR, ',' ORDER BY hash_idx)) AS bkey
                  FROM minh GROUP BY doc_id, band),
        cp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bkeys a JOIN bkeys b ON a.band = b.band AND a.bkey = b.bkey
               WHERE a.doc_id < b.doc_id),
        est AS (SELECT p.id_a, p.id_b,
                       sum(CASE WHEN x.minhash = y.minhash THEN 1 ELSE 0 END) / 32.0 AS ej
                FROM cp p
                JOIN minh x ON x.doc_id = p.id_a
                JOIN minh y ON y.doc_id = p.id_b AND y.hash_idx = x.hash_idx
                GROUP BY p.id_a, p.id_b)
        SELECT id_a, id_b, round(ej, 6) AS est_jaccard FROM est
    """,
    "dup_clusters": f"""
        WITH RECURSIVE {_SQL_MINHASH},
        bkeys AS (SELECT doc_id, hash_idx // 4 AS band,
                         md5(string_agg(minhash::VARCHAR, ',' ORDER BY hash_idx)) AS bkey
                  FROM minh GROUP BY doc_id, band),
        cp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bkeys a JOIN bkeys b ON a.band = b.band AND a.bkey = b.bkey
               WHERE a.doc_id < b.doc_id),
        est AS (SELECT p.id_a, p.id_b,
                       sum(CASE WHEN x.minhash = y.minhash THEN 1 ELSE 0 END) / 32.0 AS ej
                FROM cp p
                JOIN minh x ON x.doc_id = p.id_a
                JOIN minh y ON y.doc_id = p.id_b AND y.hash_idx = x.hash_idx
                GROUP BY p.id_a, p.id_b),
        und AS (SELECT id_a AS s, id_b AS d FROM est WHERE ej >= 0.5
                UNION SELECT id_b, id_a FROM est WHERE ej >= 0.5),
        reach AS (
            SELECT s, d FROM und
            UNION
            SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s
        ),
        mins AS (SELECT s, min(d) AS mn FROM reach GROUP BY s)
        SELECT doc.doc_id, least(doc.doc_id, coalesce(m.mn, doc.doc_id)) AS cluster_id
        FROM documents doc LEFT JOIN mins m ON m.s = doc.doc_id
    """,
    # same pair graph + closure as dup_clusters, then keep-one + size
    "fuzzy_dedup": f"""
        WITH RECURSIVE {_SQL_MINHASH},
        bkeys AS (SELECT doc_id, hash_idx // 4 AS band,
                         md5(string_agg(minhash::VARCHAR, ',' ORDER BY hash_idx)) AS bkey
                  FROM minh GROUP BY doc_id, band),
        cp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bkeys a JOIN bkeys b ON a.band = b.band AND a.bkey = b.bkey
               WHERE a.doc_id < b.doc_id),
        est AS (SELECT p.id_a, p.id_b,
                       sum(CASE WHEN x.minhash = y.minhash THEN 1 ELSE 0 END) / 32.0 AS ej
                FROM cp p
                JOIN minh x ON x.doc_id = p.id_a
                JOIN minh y ON y.doc_id = p.id_b AND y.hash_idx = x.hash_idx
                GROUP BY p.id_a, p.id_b),
        und AS (SELECT id_a AS s, id_b AS d FROM est WHERE ej >= 0.5
                UNION SELECT id_b, id_a FROM est WHERE ej >= 0.5),
        reach AS (
            SELECT s, d FROM und
            UNION
            SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s
        ),
        mins AS (SELECT s, min(d) AS mn FROM reach GROUP BY s),
        cl AS (SELECT doc.doc_id,
                      least(doc.doc_id, coalesce(m.mn, doc.doc_id)) AS cluster_id
               FROM documents doc LEFT JOIN mins m ON m.s = doc.doc_id),
        sz AS (SELECT cluster_id, count(*) AS n FROM cl GROUP BY cluster_id)
        SELECT d.doc_id, d.source, CAST(sz.n AS BIGINT) AS cluster_size
        FROM documents d JOIN sz ON sz.cluster_id = d.doc_id
    """,
    "dup_clusters_star": f"""
        WITH RECURSIVE {_SQL_MINHASH},
        bkeys AS (SELECT doc_id, hash_idx // 4 AS band,
                         md5(string_agg(minhash::VARCHAR, ',' ORDER BY hash_idx)) AS bkey
                  FROM minh GROUP BY doc_id, band),
        cp AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
               FROM bkeys a JOIN bkeys b ON a.band = b.band AND a.bkey = b.bkey
               WHERE a.doc_id < b.doc_id),
        est AS (SELECT p.id_a, p.id_b,
                       sum(CASE WHEN x.minhash = y.minhash THEN 1 ELSE 0 END) / 32.0 AS ej
                FROM cp p
                JOIN minh x ON x.doc_id = p.id_a
                JOIN minh y ON y.doc_id = p.id_b AND y.hash_idx = x.hash_idx
                GROUP BY p.id_a, p.id_b),
        und AS (SELECT id_a AS s, id_b AS d FROM est WHERE ej >= 0.5
                UNION SELECT id_b, id_a FROM est WHERE ej >= 0.5),
        reach AS (
            SELECT s, d FROM und
            UNION
            SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s
        ),
        mins AS (SELECT s, min(d) AS mn FROM reach GROUP BY s)
        SELECT doc.doc_id, least(doc.doc_id, coalesce(m.mn, doc.doc_id)) AS cluster_id
        FROM documents doc LEFT JOIN mins m ON m.s = doc.doc_id
    """,
    "simhash": """
        WITH tok AS (SELECT doc_id, unnest(list_distinct(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS token
                     FROM documents),
        hv AS (SELECT doc_id, -- 8 hex chars = 32 bits: the hash must fill every simhash bit
        CAST(concat('0x', substring(md5(token),1,8)) AS BIGINT) AS h FROM tok),
        bits AS (SELECT doc_id, i,
                        sum(CASE WHEN (h >> CAST(i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
                 FROM hv, generate_series(0,31) AS g(i) GROUP BY doc_id, i)
        SELECT doc_id,
               CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id
    """,
    "ngram_jaccard": """
        WITH tokarr AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
                          '[^a-z0-9]+'), x -> x <> '') AS toks FROM documents),
        sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
               FROM (SELECT doc_id, toks,
                            unnest(generate_series(1, greatest(len(toks)-2, 0))) AS i
                     FROM tokarr)),
        szs AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              FROM sh a JOIN sh b USING(shingle)
              WHERE a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
        SELECT id_a, id_b,
               round(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) AS jaccard
        FROM j JOIN szs sa ON j.id_a = sa.doc_id JOIN szs sb ON j.id_b = sb.doc_id
        WHERE round(inter / CAST(sa.sz + sb.sz - inter AS DOUBLE), 6) >= 0.2
    """,
    "simhash_near_pairs": """
        WITH tok AS (SELECT doc_id, unnest(list_distinct(list_filter(
                       regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS token
                     FROM documents),
        hv AS (SELECT doc_id, -- 8 hex chars = 32 bits: the hash must fill every simhash bit
        CAST(concat('0x', substring(md5(token),1,8)) AS BIGINT) AS h FROM tok),
        bits AS (SELECT doc_id, i,
                        sum(CASE WHEN (h >> CAST(i AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS vote
                 FROM hv, generate_series(0,31) AS g(i) GROUP BY doc_id, i),
        sim AS (SELECT doc_id,
                       CAST(sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END) AS BIGINT) AS simhash
                FROM bits GROUP BY doc_id),
        banded AS (SELECT doc_id, simhash, CAST(blk AS INT) AS blk,
                          (simhash >> (CAST(blk AS INT) * 8)) & 255 AS bkey
                   FROM sim, generate_series(0,3) AS g(blk)),
        pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                         a.simhash AS sa, b.simhash AS sb
                  FROM banded a JOIN banded b ON a.blk = b.blk AND a.bkey = b.bkey
                  WHERE a.doc_id < b.doc_id)
        SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
        FROM pairs WHERE bit_count(xor(sa, sb)) <= 3
    """,
    "embed_near_pairs": """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE vec_id < 2000)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.5
    """,
    # same EXACT all-pairs oracle: the bucketed variant must not lose pairs
    "embed_near_pairs_bucketed": """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE vec_id < 2000)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.5
    """,
    # SemDeDup composition: exact all-pairs cosine graph -> recursive
    # transitive closure -> min-member cluster id -> keep-one + size
    "semantic_dedup": """
        WITH RECURSIVE
        e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings WHERE vec_id < 2000),
        p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM e a JOIN e b ON a.vec_id < b.vec_id
              WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.5),
        und AS (SELECT id_a AS s, id_b AS d FROM p
                UNION SELECT id_b, id_a FROM p),
        reach AS (
            SELECT s, d FROM und
            UNION
            SELECT r.s, u.d FROM reach r JOIN und u ON r.d = u.s
        ),
        mins AS (SELECT s, min(d) AS mn FROM reach GROUP BY s),
        cl AS (SELECT e.vec_id, e.label,
                      least(e.vec_id, coalesce(m.mn, e.vec_id)) AS cluster_id
               FROM e LEFT JOIN mins m ON m.s = e.vec_id),
        sz AS (SELECT cluster_id, count(*) AS n FROM cl GROUP BY cluster_id)
        SELECT e.vec_id, e.label, CAST(sz.n AS BIGINT) AS cluster_size
        FROM e JOIN sz ON sz.cluster_id = e.vec_id
    """,
    "pii_scrub": """
        WITH dirty AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or +31 6 1234 5678 ip 10.0.'
                      || CAST(doc_id % 256 AS VARCHAR)
                      || '.7 card 4111111111111111' AS text
          FROM documents
        )
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                 '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IP]', 'g'),
                 '\\b\\d{13,19}\\b', '[NUMBER]', 'g'),
                 '\\+?\\(?\\d[\\d\\s().-]{8,}\\d', '[PHONE]', 'g') AS scrubbed,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
               CAST(len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ipv4,
               CAST(len(regexp_extract_all(text, '\\b\\d{13,19}\\b')) AS INT) AS n_long_digits,
               CAST(len(regexp_extract_all(text, '\\+?\\(?\\d[\\d\\s().-]{8,}\\d')) AS INT) AS n_phone
        FROM dirty
    """,
    "contamination": """
        WITH tok AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
          FROM documents
        ),
        sh AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(toks) >= 5
                   THEN list_transform(range(1, len(toks) - 3),
                        i -> array_to_string(list_slice(toks, i, i + 4), ' '))
                   ELSE [] END) AS shingles
          FROM tok
        ),
        dsh AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 20 <> 0),
        bsh AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 20 = 0),
        agg AS (
          SELECT d.doc_id,
                 count(*) AS n_shingles,
                 sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_contaminated
          FROM dsh d LEFT JOIN bsh b USING (shingle)
          GROUP BY d.doc_id
        )
        SELECT doc.doc_id AS id,
               CAST(coalesce(a.n_shingles, 0) AS INT) AS n_shingles,
               CAST(coalesce(a.n_contaminated, 0) AS INT) AS n_contaminated,
               CASE WHEN coalesce(a.n_shingles, 0) = 0 THEN 0.0
                    ELSE round(a.n_contaminated / CAST(a.n_shingles AS DOUBLE), 6)
               END AS contamination
        FROM documents doc LEFT JOIN agg a USING (doc_id)
        WHERE doc.doc_id % 20 <> 0
    """,
    "events_rollup": """
        SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
               count(*) AS n_events, round(sum(value), 6) AS sum_value
        FROM events
        GROUP BY ROLLUP (day, event_type)
    """,
    "events_interval_join": """
        WITH g AS (SELECT event_id, user_id, ts,
                          CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                                 OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
                   FROM events
                   WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (SELECT event_id, user_id, ts,
                     CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS session_id
              FROM g),
        iv AS (SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end
               FROM s GROUP BY user_id, session_id)
        SELECT e.event_id, e.user_id, iv.session_id,
               epoch_us(e.ts) AS ts_us
        FROM events e JOIN iv ON e.user_id = iv.user_id
                             AND e.ts BETWEEN iv.session_start AND iv.session_end
    """,
    # LEFT range join: sessions built from PURCHASE events only, so events
    # outside every purchase session survive as NULL-interval rows
    "events_interval_join_left": """
        WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        g AS (SELECT user_id, ts,
                     CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                            OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
              FROM p
              WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (SELECT user_id, ts,
                     CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS session_id
              FROM g),
        iv AS (SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end
               FROM s GROUP BY user_id, session_id)
        SELECT e.event_id, e.user_id, iv.session_id,
               epoch_us(e.ts) AS ts_us,
               epoch_us(iv.session_start) AS session_start_us,
               epoch_us(iv.session_end) AS session_end_us
        FROM events e LEFT JOIN iv ON e.user_id = iv.user_id
                                  AND e.ts BETWEEN iv.session_start AND iv.session_end
    """,
    "events_asof": """
        WITH l AS (SELECT event_id, user_id, ts FROM events),
        r AS (SELECT user_id, ts, max(value) AS purchase_value
              FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        SELECT l.event_id, l.user_id,
               epoch_us(l.ts) AS ts_us,
               CASE WHEN r.ts IS NOT NULL AND epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000
                    THEN epoch_us(r.ts) END AS asof_ts_us,
               CASE WHEN r.ts IS NOT NULL AND epoch_us(l.ts) - epoch_us(r.ts) <= 3600000000
                    THEN round(r.purchase_value, 6) END AS asof_purchase_value
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
    "token_budget_sample": """
        WITH t AS (
          SELECT doc_id,
                 len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'),
                                 x -> x <> '')) AS n_tokens,
                 CAST(CAST(concat('0x', substring(md5(concat_ws('|', 'budget',
                      CAST(doc_id AS VARCHAR))), 1, 7)) AS BIGINT) AS DOUBLE)
                 / 268435456.0 AS h
          FROM documents
        ),
        c AS (SELECT doc_id, n_tokens,
                     sum(n_tokens) OVER (ORDER BY h, doc_id
                                         ROWS UNBOUNDED PRECEDING) AS cum
              FROM t)
        SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens
        FROM c WHERE cum <= 20000
    """,
    "pack_sequences": """
        WITH t AS (
          SELECT doc_id,
                 CAST(len(list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'),
                                      x -> x <> '')) AS BIGINT) AS n_tokens,
                 CAST(CAST(concat('0x', substring(md5(concat_ws('|', 'pack',
                      CAST(doc_id AS VARCHAR))), 1, 7)) AS BIGINT) AS DOUBLE)
                 / 268435456.0 AS h
          FROM documents
        ),
        c AS (SELECT doc_id, n_tokens,
                     sum(n_tokens) OVER (ORDER BY h, doc_id
                                         ROWS UNBOUNDED PRECEDING) AS cum
              FROM t WHERE n_tokens > 0),
        e AS (SELECT doc_id, n_tokens, cum, cum - n_tokens AS strt,
                     unnest(range(CAST((cum - n_tokens) // 512 AS BIGINT),
                                  CAST((cum - 1) // 512 + 1 AS BIGINT))) AS chunk_id
              FROM c)
        SELECT CAST(chunk_id AS BIGINT) AS chunk_id, doc_id, n_tokens,
               CAST(greatest(strt, chunk_id * 512) - strt AS BIGINT) AS doc_off,
               CAST(greatest(strt, chunk_id * 512) - chunk_id * 512 AS BIGINT) AS chunk_off,
               CAST(least(cum, (chunk_id + 1) * 512)
                    - greatest(strt, chunk_id * 512) AS BIGINT) AS span_len
        FROM e
    """,
    "line_dedup": r"""
        WITH d AS (
          SELECT doc_id,
                 regexp_replace(text, '(([^ ]+ ){8})', '\1' || chr(10), 'g') AS text
          FROM documents
        ),
        ls AS (SELECT doc_id, string_split(text, chr(10)) AS arr FROM d),
        lines AS (
          SELECT doc_id, u.pos AS pos, u.l AS l
          FROM (SELECT doc_id,
                       unnest(list_transform(range(len(arr)),
                              i -> {'pos': i, 'l': arr[i+1]})) AS u
                FROM ls)
        ),
        w AS (SELECT doc_id, pos, l,
                     row_number() OVER (PARTITION BY md5(trim(lower(l)))
                                        ORDER BY doc_id, pos) AS rn
              FROM lines),
        kept AS (SELECT doc_id, count(*) AS n_kept,
                        string_agg(l, chr(10) ORDER BY pos) AS text
                 FROM w WHERE rn = 1 GROUP BY doc_id)
        SELECT ls.doc_id, CAST(len(ls.arr) AS INT) AS n_lines,
               CAST(coalesce(k.n_kept, 0) AS INT) AS n_kept,
               coalesce(k.text, '') AS text
        FROM ls LEFT JOIN kept k USING (doc_id)
    """,
    "events_asof_forward": """
        WITH l AS (SELECT event_id, user_id, ts FROM events),
        r AS (SELECT user_id, ts, max(value) AS purchase_value
              FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
        SELECT l.event_id, l.user_id,
               epoch_us(l.ts) AS ts_us,
               CASE WHEN r.ts IS NOT NULL AND epoch_us(r.ts) - epoch_us(l.ts) <= 3600000000
                    THEN epoch_us(r.ts) END AS asof_ts_us,
               CASE WHEN r.ts IS NOT NULL AND epoch_us(r.ts) - epoch_us(l.ts) <= 3600000000
                    THEN round(r.purchase_value, 6) END AS asof_purchase_value
        FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
    """,
    "doc_fingerprint": """
        WITH tok AS (SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
                     FROM documents),
        fp AS (SELECT doc_id,
                      md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fingerprint
               FROM tok),
        hits AS (
          SELECT doc_id, 'en' AS lang, len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','that','it'))) AS h FROM tok
          UNION ALL
          SELECT doc_id, 'de', len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) FROM tok
          UNION ALL
          SELECT doc_id, 'fr', len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une','que'))) FROM tok
          UNION ALL
          SELECT doc_id, 'es', len(list_filter(toks, x -> x IN ('el','la','los','de','y','es','un','una'))) FROM tok
          UNION ALL
          SELECT doc_id, 'nl', len(list_filter(toks, x -> x IN ('de','het','een','en','van','is','niet','dat'))) FROM tok
        ),
        pick AS (SELECT doc_id, lang, h,
                        row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, lang DESC) AS rn
                 FROM hits)
        SELECT f.doc_id, f.fingerprint,
               CASE WHEN p.h > 0 THEN p.lang ELSE 'und' END AS lang_guess
        FROM fp f JOIN pick p ON f.doc_id = p.doc_id AND p.rn = 1
    """,
    "dedup_exact": """
        SELECT md5(trim(lower(text))) AS content_hash,
               min(doc_id) AS rep_doc_id,
               count(*) AS group_size
        FROM documents GROUP BY 1
    """,
    # raw string: the BPE regex carries literal \s classes
    "text_stats": r"""
        WITH tok AS (
          SELECT doc_id, text,
                 list_filter(regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> '') AS toks,
                 length(text) AS n_chars
          FROM documents
        )
        SELECT doc_id,
               CAST(length(toks) AS INT) AS n_tokens,
               CAST(n_chars AS INT) AS n_chars,
               round(length(list_filter(toks, x -> lower(x) IN ('the','a','an','of','and','to','in','is')))
                     / CAST(length(toks) AS DOUBLE), 6) AS stopword_ratio,
               round(list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE)))
                     / CAST(length(toks) AS DOUBLE), 6) AS avg_token_len,
               CAST(length(list_distinct(toks)) AS INT) AS n_unique_tokens,
               CAST(length(regexp_extract_all(text,
                 '''(?:s|d|m|t|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s'']+|\s+'
                 )) AS INT) AS n_bpe_tokens
        FROM tok
    """,
    # GENERATED from the same _CHUNK_* constants as q_chunk_docs: starts =
    # 1, 1+stride, ... <= n - chunk + stride (no redundant tail window),
    # 1-based inclusive list slicing == Spark's slice(toks, start, chunk)
    "chunk_docs": f"""
        WITH tok AS (SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
                     FROM documents),
        s AS (SELECT doc_id, toks, len(toks) AS n,
                     unnest(generate_series(1,
                        greatest(1, len(toks) - {_CHUNK_TOKENS}
                                 + {_CHUNK_TOKENS - _CHUNK_OVERLAP}),
                        {_CHUNK_TOKENS - _CHUNK_OVERLAP})) AS st
              FROM tok WHERE len(toks) > 0)
        SELECT doc_id,
               CAST(floor((st - 1) / {_CHUNK_TOKENS - _CHUNK_OVERLAP}) AS INT) AS chunk_id,
               CAST(len(toks[CAST(st AS INT): CAST(least(st + {_CHUNK_TOKENS - 1}, n) AS INT)]) AS INT) AS n_tokens,
               array_to_string(toks[CAST(st AS INT): CAST(least(st + {_CHUNK_TOKENS - 1}, n) AS INT)], ' ') AS chunk
        FROM s
    """,
    # mirrors functions/text.top_terms over the lang shards: one count
    # per (lang, token), top-5 window with the token-ascending tie-break
    "top_terms": """
        WITH t AS (SELECT lang,
                     unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
                   FROM documents),
        c AS (SELECT lang, token, count(*) AS n FROM t GROUP BY lang, token),
        r AS (SELECT lang, token, n,
                     row_number() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rank
              FROM c)
        SELECT lang, token, n, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
    """,
    # mirrors functions/text.gopher_rules_table (Gopher defaults): words =
    # \s+ split, lines = non-blank chr(10) splits, non-overlapping
    # replace()-counted '#'/'...' symbols, per-row divisions rounded to 6dp
    "gopher_quality": r"""
        WITH w AS (SELECT doc_id, text,
                     list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS words,
                     list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lines
                   FROM documents),
        m AS (SELECT doc_id,
                     len(words) AS nw, len(lines) AS nl,
                     (length(text) - length(replace(text, '#', '')))
                       + (length(text) - length(replace(text, '...', ''))) / 3 AS nsym,
                     len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]'))) AS nalpha,
                     list_sum(list_transform(words, x -> length(x))) AS wchars,
                     len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*•]'))) AS nbul,
                     len(list_filter(lines, l -> ends_with(rtrim(l), '...'))) AS nell
              FROM w),
        r AS (SELECT doc_id,
                     CAST(coalesce(nw, 0) AS BIGINT) AS n_words,
                     CASE WHEN nw > 0 THEN round(wchars / CAST(nw AS DOUBLE), 6) END AS mean_word_len,
                     CASE WHEN nw > 0 THEN round(nsym / CAST(nw AS DOUBLE), 6) END AS symbol_ratio,
                     CASE WHEN nl > 0 THEN round(nbul / CAST(nl AS DOUBLE), 6) END AS bullet_ratio,
                     CASE WHEN nl > 0 THEN round(nell / CAST(nl AS DOUBLE), 6) END AS ellipsis_ratio,
                     CASE WHEN nw > 0 THEN round(nalpha / CAST(nw AS DOUBLE), 6) END AS alpha_word_ratio
              FROM m)
        SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
               ellipsis_ratio, alpha_word_ratio,
               coalesce(n_words >= 50 AND n_words <= 100000
                        AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
                        AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
                        AND ellipsis_ratio <= 0.3 AND alpha_word_ratio >= 0.8,
                        FALSE) AS keep
        FROM r
    """,
    # mirrors functions/text.corpus_profile: tokens = the corpus-wide
    # lowercase [^a-z0-9]+ convention; quality = the same per-row fragment
    # the curation_pipeline oracle mirrors (rounded per row, then the avg
    # rounded again)
    "corpus_stats": """
        WITH tok AS (SELECT source, text,
                       list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
                     FROM documents),
        q AS (SELECT source, text, toks,
                     round(
                       (CASE WHEN len(toks) >= 5 THEN 1.0 ELSE len(toks) / 5.0 END)
                       * (CASE WHEN list_sum(list_transform(toks, x -> CAST(length(x) AS DOUBLE))) / len(toks) BETWEEN 2 AND 12
                               THEN 1.0 ELSE 0.5 END)
                       * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                          / CAST(greatest(length(text), 1) AS DOUBLE)), 6) AS qual
              FROM tok)
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
               CAST(sum(coalesce(len(toks), 0)) AS BIGINT) AS total_tokens,
               CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS total_chars,
               round(avg(coalesce(len(toks), 0)), 6) AS avg_tokens,
               round(avg(qual), 6) AS avg_quality
        FROM q GROUP BY source
    """,
    # mirrors functions/web.py exactly (every regex is ANCHORED, so
    # DuckDB's replace-first == Spark's replace-all) over the same
    # doc_id-planted URL the Spark row builds
    "url_normalize": r"""
        WITH u AS (SELECT doc_id,
                     'HTTPS://WWW.' || source || '.Example.COM/Docs/'
                       || CAST(doc_id % 5 AS VARCHAR) || '/'
                       || CAST(doc_id AS VARCHAR)
                       || CASE CAST(doc_id % 4 AS INT)
                            WHEN 0 THEN '' WHEN 1 THEN '?utm_source=news'
                            WHEN 2 THEN '#section-2' ELSE '/' END AS url
                   FROM documents),
        b AS (SELECT doc_id,
                     regexp_replace(regexp_replace(regexp_replace(url,
                       '^[a-zA-Z][a-zA-Z0-9+.-]*://', ''), '#.*$', ''),
                       '\?.*$', '') AS bare
              FROM u),
        h AS (SELECT doc_id, bare,
                     lower(regexp_replace(regexp_replace(
                       regexp_extract(bare, '^([^/]*)', 1),
                       '^[^@/]*@', ''), ':[0-9]+$', '')) AS host
              FROM b),
        d AS (SELECT doc_id, bare,
                     regexp_replace(host, '^www\.', '') AS domain
              FROM h)
        SELECT doc_id, domain,
               regexp_extract(domain, '([^.]+\.[^.]+)$', 1) AS reg_domain,
               domain || regexp_replace(regexp_replace(bare, '^[^/]*', ''),
                                        '/$', '') AS url_norm
        FROM d
    """,
    # generated from _URL_PAGES/_URL_NULL_EVERY: the oracle reconstructs
    # the canonical key straight from the plant parameters (all four
    # variants normalize to lower(source).example.com/p/<page>) — min
    # doc_id per key, NULL-key rows all kept
    "url_dedup": f"""
        WITH d AS (SELECT doc_id,
                     CASE WHEN doc_id % {_URL_NULL_EVERY} = 0 THEN NULL
                          ELSE lower(source) || '.example.com/p/'
                               || CAST(doc_id % {_URL_PAGES} AS VARCHAR)
                     END AS url_norm
                   FROM documents)
        SELECT min(doc_id) AS doc_id, url_norm
        FROM d WHERE url_norm IS NOT NULL GROUP BY url_norm
        UNION ALL
        SELECT doc_id, url_norm FROM d WHERE url_norm IS NULL
    """,
    # mirrors lang_scores_kernel: normalize -> overlapping trigrams ->
    # per-language profile hit counts -> argmax with alphabetical tie-break
    "lang_id": f"""
        WITH d AS (
          SELECT doc_id,
                 substring(text, 1, 120) || ' ' ||
                 repeat({_lang_phrase_case_sql()}, 3) AS text
          FROM documents),
        n AS (SELECT doc_id,
                     ' ' || trim(regexp_replace(lower(coalesce(text, '')), '[^a-z]+', ' ', 'g')) || ' ' AS t
              FROM d),
        s AS (SELECT doc_id,
                     {_lang_hits_select()},
                     greatest(length(t) - 2, 0) AS n_trigrams
              FROM n),
        b AS (SELECT *, {_lang_best_expr()} AS best FROM s)
        SELECT doc_id,
               {_lang_case_expr()} AS lang,
               CAST(best AS INT) AS hits,
               CAST(n_trigrams AS INT) AS n_trigrams
        FROM b
    """,
    "ann_cosine_topk": """
        WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
        scored AS (
          SELECT qid, e.vec_id AS nn_id,
                 round(list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])), 6) AS score
          FROM q, embeddings e
        ),
        ranked AS (SELECT qid, nn_id, score,
                          row_number() OVER (PARTITION BY qid ORDER BY score DESC, nn_id ASC) AS rank
                   FROM scored)
        SELECT qid, nn_id, score, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5
    """,
    "tpch_q1_pricing": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(avg(l_quantity), 6) AS avg_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    # GENERATED from _lm_oracle_sql (self-perplexity: reference = the
    # whole corpus); the lm_fit_score sibling shares the fragment with
    # the _LM_REF_FILTER slice
    "lm_perplexity": _lm_oracle_sql("TRUE"),
    # mirrors temperature_mix exactly: frac_g = round(min(1,
    # min_h(n_h/n_h^0.5) * n_g^0.5 / n_g), 12) — the sum-free form, so
    # every float step is an order-safe pow/div/min/mul chain; membership
    # = the same md5 hash as sample_mix
    "temperature_mix": """
        WITH c AS (SELECT lang AS g, CAST(count(*) AS DOUBLE) AS n
                   FROM documents WHERE lang IS NOT NULL GROUP BY lang),
        mr AS (SELECT min(n / pow(n, 0.5)) AS m FROM c),
        f AS (SELECT g, round(least(1.0, (SELECT m FROM mr) * pow(n, 0.5) / n), 12) AS frac
              FROM c)
        SELECT d.doc_id, d.lang
        FROM documents d JOIN f ON d.lang = f.g
        WHERE CAST(CAST(concat('0x', substring(md5(concat_ws('|', 'temp',
                 CAST(d.doc_id AS VARCHAR))), 1, 7)) AS BIGINT) AS DOUBLE)
              / 268435456.0 < f.frac
    """,
    # mirrors temperature_mix(allow_upsample=True) exactly: r_g =
    # round(greatest(1, max_h(n_h/n_h^0.5) * n_g^0.5 / n_g), 12) — the
    # max-anchored sum-free chain; copies = floor(r) full repeats + one
    # hash-gated fractional copy (generate_series(0, total-1), empty when
    # total = 0)
    "temperature_mix_up": """
        WITH c AS (SELECT lang AS g, CAST(count(*) AS DOUBLE) AS n
                   FROM documents WHERE lang IS NOT NULL GROUP BY lang),
        mr AS (SELECT max(n / pow(n, 0.5)) AS m FROM c),
        f AS (SELECT g, round(greatest(1.0, (SELECT m FROM mr) * pow(n, 0.5) / n), 12) AS r
              FROM c),
        e AS (SELECT d.doc_id, d.lang, f.r,
                     CAST(CAST(concat('0x', substring(md5(concat_ws('|', 'temp',
                          CAST(d.doc_id AS VARCHAR))), 1, 7)) AS BIGINT) AS DOUBLE)
                     / 268435456.0 AS h
              FROM documents d JOIN f ON d.lang = f.g)
        SELECT doc_id, lang, CAST(copy AS INT) AS copy
        FROM (SELECT doc_id, lang,
                     unnest(generate_series(0,
                        CAST(floor(r) AS BIGINT)
                        + (CASE WHEN h < r - floor(r) THEN 1 ELSE 0 END)
                        - 1)) AS copy
              FROM e)
    """,
    # generated VALUES list from _RMIX_WEIGHTS (dyadic doubles: the weight
    # sum is order-free exact); r_g = round(N * w_g / W / n_g, 12) with
    # N/W over the PRESENT positive listed groups (the documented
    # renormalization), same repeat-explode as temperature_mix_up but
    # salt 'remix'
    "resample_to_mix": f"""
        WITH w(g, w) AS (VALUES {", ".join(
            f"('{g}', CAST({v} AS DOUBLE))" for g, v in sorted(_RMIX_WEIGHTS.items())
        )}),
        c AS (SELECT lang AS g, count(*) AS n
              FROM documents WHERE lang IS NOT NULL GROUP BY lang),
        p AS (SELECT c.g, CAST(c.n AS DOUBLE) AS n, w.w
              FROM c JOIN w USING (g) WHERE w.w > 0 AND c.n > 0),
        t AS (SELECT sum(n) AS tn, sum(w) AS tw FROM p),
        f AS (SELECT g, round((SELECT tn FROM t) * w / (SELECT tw FROM t) / n, 12) AS r
              FROM p),
        e AS (SELECT d.doc_id, d.lang, f.r,
                     CAST(CAST(concat('0x', substring(md5(concat_ws('|', 'remix',
                          CAST(d.doc_id AS VARCHAR))), 1, 7)) AS BIGINT) AS DOUBLE)
                     / 268435456.0 AS h
              FROM documents d JOIN f ON d.lang = f.g)
        SELECT doc_id, lang, CAST(copy AS INT) AS copy
        FROM (SELECT doc_id, lang,
                     unnest(generate_series(0,
                        CAST(floor(r) AS BIGINT)
                        + (CASE WHEN h < r - floor(r) THEN 1 ELSE 0 END)
                        - 1)) AS copy
              FROM e)
    """,
    # generated from _DOM_SALT/_DOM_BUCKETS/_DOM_ALPHA: the synthesized
    # source x md5-bucket domain key, then the identical join-based
    # min-anchored fraction chain the unbounded Spark path computes
    # in-plan (the oracle is ALREADY the join formulation — the literal
    # path was the approximation)
    "temperature_mix_domain": f"""
        WITH d AS (SELECT doc_id, concat_ws('_', source,
                 CAST(CAST(concat('0x', substring(md5(concat_ws('|', '{_DOM_SALT}',
                      CAST(doc_id AS VARCHAR))), 1, 4)) AS BIGINT)
                      % {_DOM_BUCKETS} AS VARCHAR)) AS domain
             FROM documents),
        c AS (SELECT domain AS g, CAST(count(*) AS DOUBLE) AS n
              FROM d WHERE domain IS NOT NULL GROUP BY domain),
        mr AS (SELECT min(n / pow(n, {_DOM_ALPHA})) AS m FROM c),
        f AS (SELECT g, round(least(1.0, (SELECT m FROM mr) * pow(n, {_DOM_ALPHA}) / n), 12) AS frac
              FROM c)
        SELECT d.doc_id, d.domain
        FROM d JOIN f ON d.domain = f.g
        WHERE CAST(CAST(concat('0x', substring(md5(concat_ws('|', 'temp',
                 CAST(d.doc_id AS VARCHAR))), 1, 7)) AS BIGINT) AS DOUBLE)
              / 268435456.0 < f.frac
    """,
    # generated VALUES list: same _QUANTILES tuple as the Spark row (the
    # f-string below); rank semantics = value at max(1, ceil(q*n)) in
    # value order — a SELECTED element, so doubles compare bit-exact
    "exact_quantiles": f"""
        WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
                   WHERE l_extendedprice IS NOT NULL AND NOT isnan(l_extendedprice)),
        nn AS (SELECT count(*) AS n FROM v),
        s AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v),
        qs(q) AS (VALUES {", ".join(f"(CAST({q} AS DOUBLE))" for q in _QUANTILES)})
        SELECT q, min(x) AS value
        FROM s, nn, qs
        WHERE s.rn >= greatest(1, CAST(ceil(q * nn.n) AS BIGINT))
        GROUP BY q
    """,
    # generated VALUES list from _GQ_QUANTILES; same type-1 rank
    # semantics as exact_quantiles, per group
    "grouped_quantiles": f"""
        WITH v AS (SELECT source AS g, CAST(length(text) AS DOUBLE) AS x
                   FROM documents WHERE text IS NOT NULL),
        s AS (SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x) AS rn,
                     count(*) OVER (PARTITION BY g) AS n
              FROM v),
        qs(q) AS (VALUES {", ".join(f"(CAST({q} AS DOUBLE))" for q in _GQ_QUANTILES)})
        SELECT g AS source, q, min(x) AS value
        FROM s, qs
        WHERE s.rn >= greatest(1, CAST(ceil(q * s.n) AS BIGINT))
        GROUP BY g, q
    """,
    "tpch_q6_forecast": """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "tpch_q3_shipping": """
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-03-15'
          AND l_shipdate > TIMESTAMP '1997-03-15'
        GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "topn_per_group": """
        WITH j AS (
          SELECT c_mktsegment, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY c_mktsegment
                                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
          FROM orders JOIN customer ON o_custkey = c_custkey
        )
        SELECT c_mktsegment, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn
        FROM j WHERE rn <= 3
    """,
    "threshold_curves": f"""
        WITH {_SQL_CANDS},
        j AS (SELECT c.score,
                     CASE WHEN n.name = g.name THEN 1 ELSE 0 END AS y
              FROM cand c JOIN nm n ON c.uid = n.uid JOIN gt g ON c.gt_uid = g.gt_uid),
        g2 AS (SELECT score AS threshold, sum(y) AS pos, count(*) AS n
               FROM j GROUP BY score),
        tot AS (SELECT sum(pos) AS p_all, sum(n) AS n_all FROM g2),
        cm AS (SELECT threshold,
                      sum(pos) OVER w AS tp_raw,
                      sum(n) OVER w - sum(pos) OVER w AS fp_raw
               FROM g2
               WINDOW w AS (ORDER BY threshold DESC ROWS UNBOUNDED PRECEDING))
        SELECT 'all' AS name_set, round(threshold, 6) AS threshold,
               CAST(n_all - p_all - fp_raw AS DOUBLE) AS tn,
               CAST(fp_raw AS DOUBLE) AS fp,
               CAST(p_all - tp_raw AS DOUBLE) AS fn,
               CAST(tp_raw AS DOUBLE) AS tp
        FROM cm, tot
    """,
    "auc": f"""
        WITH {_SQL_CANDS},
        j AS (SELECT c.score AS s,
                     CASE WHEN n.name = g.name THEN 1 ELSE 0 END AS y
              FROM cand c JOIN nm n ON c.uid = n.uid JOIN gt g ON c.gt_uid = g.gt_uid),
        rn AS (SELECT y, s, row_number() OVER (ORDER BY s) AS rnk FROM j),
        rr AS (SELECT y, avg(rnk) OVER (PARTITION BY s) AS r FROM rn),
        agg AS (SELECT sum(CASE WHEN y = 1 THEN r END) AS rs,
                       sum(y) AS np, count(*) AS n FROM rr)
        SELECT round((rs - np * (np + 1) / 2.0) / (np * (n - np)), 6) AS auc FROM agg
    """,
    "stratified_sample": """
        SELECT doc_id, lang
        FROM documents
        WHERE CAST(CAST(concat('0x', substring(md5(concat_ws('|', 'sample',
                     CAST(doc_id AS VARCHAR))), 1, 7)) AS BIGINT) AS DOUBLE)
              / 268435456.0
              < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.1 END
    """,
    "dedup_drop": """
        WITH r AS (SELECT doc_id, n_chars,
                          row_number() OVER (PARTITION BY md5(trim(lower(text)))
                                             ORDER BY doc_id) AS rn
                   FROM documents)
        SELECT doc_id, n_chars FROM r WHERE rn = 1
    """,
    "events_windowed": """
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
               event_type,
               count(*) AS n_events,
               round(sum(value), 6) AS sum_value
        FROM events
        GROUP BY 1, 2
    """,
    "events_sessions": """
        WITH g AS (SELECT user_id, ts,
                          CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                                 OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
                   FROM events
                   WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (SELECT user_id, ts,
                     -- CAST: DuckDB windowed sum() yields HUGEINT which pandas
                     -- materializes as float64; Spark emits BIGINT int64.  The
                     -- driver's value-hash is dtype-strict, so align to BIGINT.
                     CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS session_id
              FROM g)
        SELECT user_id, session_id, count(*) AS n_events,
               epoch_us(min(ts)) AS session_start_us,
               epoch_us(max(ts)) AS session_end_us
        FROM s GROUP BY user_id, session_id
    """,
    # same gap-session semantics as events_sessions, without the per-user
    # session numbering (streaming keys sessions by window, not ordinal)
    "streaming_sessions": """
        WITH g AS (SELECT user_id, ts,
                          CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800
                                 OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
                   FROM events
                   WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (SELECT user_id, ts,
                     CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS session_id
              FROM g)
        SELECT user_id, count(*) AS n_events,
               epoch_us(min(ts)) AS session_start_us,
               epoch_us(max(ts)) AS session_end_us
        FROM s GROUP BY user_id, session_id
    """,
    # batch twin of the streaming curation front-door: char-trigram lang id
    # (same profile scorer as the lang_id oracle, alphabetical-first ties)
    # -> quality gate (same formula as curation_pipeline) -> exact dedup.
    # Projected to columns CONSTANT within a duplicate group, so WHICH
    # physical row the stream's dropDuplicatesWithinWatermark kept cannot
    # affect the result set.  The hit CTE `s` is MATERIALIZED: inlined
    # into each of its references, its replace()-count terms ran DuckDB out
    # of memory (same for curate_batch below).
    "streaming_curation": f"""
        WITH n AS (SELECT doc_id, text,
                          ' ' || trim(regexp_replace(lower(coalesce(text, '')),
                                      '[^a-z]+', ' ', 'g')) || ' ' AS t
                   FROM documents),
        s AS MATERIALIZED (SELECT doc_id, text,
                     {_lang_hits_select()}
              FROM n),
        b AS (SELECT *, {_lang_best_expr()} AS best FROM s),
        en AS (SELECT doc_id, text FROM b
               WHERE {_lang_wins_sql("en")}),
        tok AS (SELECT doc_id, text,
                       list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                   x -> x <> '') AS toks
                FROM en),
        q AS (SELECT doc_id, text,
                     round(
                       (CASE WHEN len(toks) >= 5 THEN 1.0 ELSE len(toks) / 5.0 END)
                       * (CASE WHEN list_aggregate(list_transform(toks, x -> CAST(length(x) AS DOUBLE)), 'sum') / len(toks) BETWEEN 2 AND 12
                               THEN 1.0 ELSE 0.5 END)
                       * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                          / CAST(greatest(length(text), 1) AS DOUBLE)), 6) AS quality
              FROM tok)
        SELECT DISTINCT md5(trim(lower(text))) AS content_hash,
               'en' AS lang
        FROM q WHERE quality >= 0.5
    """,
    # mirrors duplicate_window_stats + the query's deterministic shared
    # passage (appended to every 7th doc in BOTH engines): 12-token hash
    # windows at stride 5, corpus-wide count, per-doc dup ratio
    "dup_spans": """
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN concat(text, ' {PASSAGE}')
                      ELSE text END AS text
          FROM documents),
        t AS (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                 x -> x <> '') AS toks
              FROM d),
        b AS (SELECT doc_id, toks,
                     greatest(0, CAST(floor((len(toks) - 12) / 5.0) AS INT) + 1) AS nw
              FROM t),
        w AS (SELECT doc_id,
                     unnest(list_transform(range(nw),
                            p -> md5(array_to_string(toks[p*5+1 : p*5+12], ' ')))) AS h
              FROM b WHERE nw > 0),
        c AS (SELECT h, count(*) AS cnt FROM w GROUP BY h),
        s AS (SELECT doc_id,
                     CAST(sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS INT) AS n_dup
              FROM w JOIN c USING (h) GROUP BY doc_id)
        SELECT b.doc_id,
               b.nw AS n_windows,
               CAST(coalesce(s.n_dup, 0) AS INT) AS n_dup_windows,
               CASE WHEN b.nw > 0
                    THEN round(coalesce(s.n_dup, 0) / CAST(b.nw AS DOUBLE), 6)
               END AS dup_ratio
        FROM b LEFT JOIN s USING (doc_id)
    """.replace("{PASSAGE}", _SHARED_PASSAGE),
    # mirrors remove_duplicate_passages: winner = min (doc_id, pos) per
    # duplicated window hash, loser windows merged into per-doc ranges,
    # text rebuilt from surviving tokens
    "dedup_passages": """
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN concat(text, ' {PASSAGE}')
                      ELSE text END AS text
          FROM documents),
        t AS (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                 x -> x <> '') AS toks
              FROM d),
        b AS (SELECT doc_id, toks,
                     greatest(0, CAST(floor((len(toks) - 12) / 5.0) AS INT) + 1) AS nw
              FROM t),
        occ AS (SELECT doc_id,
                       unnest(list_transform(range(nw),
                              p -> {'s': p*5,
                                    'h': md5(array_to_string(toks[p*5+1 : p*5+12], ' '))})) AS o
                FROM b WHERE nw > 0),
        w AS (SELECT doc_id, o.s AS s, o.h AS h,
                     count(*) OVER (PARTITION BY o.h) AS cnt,
                     row_number() OVER (PARTITION BY o.h ORDER BY doc_id, o.s) AS rn
              FROM occ),
        losers AS (SELECT doc_id, s, s + 12 AS e FROM w WHERE cnt > 1 AND rn > 1),
        flagged AS (SELECT doc_id, s, e,
                           CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                                IS NULL
                             OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                           THEN 1 ELSE 0 END AS new_g
                    FROM losers),
        grp AS (SELECT doc_id, s, e,
                       sum(new_g) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS UNBOUNDED PRECEDING) AS g
                FROM flagged),
        spans AS (SELECT doc_id, list({'s': ms, 'e': me} ORDER BY ms) AS cut
                  FROM (SELECT doc_id, g, min(s) AS ms, max(e) AS me
                        FROM grp GROUP BY doc_id, g)
                  GROUP BY doc_id),
        rebuilt AS (
          SELECT b.doc_id,
                 list_filter(
                   list_transform(range(len(b.toks)),
                     j -> CASE WHEN len(list_filter(coalesce(spans.cut, []),
                                     sp -> j >= sp.s AND j < sp.e)) = 0
                               THEN b.toks[j+1] END),
                   x -> x IS NOT NULL) AS kept,
                 b.toks
          FROM b LEFT JOIN spans USING (doc_id))
        SELECT doc_id,
               array_to_string(kept, ' ') AS text,
               CAST(len(toks) AS INT) AS n_tokens,
               CAST(len(toks) - len(kept) AS INT) AS n_tokens_removed
        FROM rebuilt
    """.replace("{PASSAGE}", _SHARED_PASSAGE),
    "source_cap": """
        WITH r AS (
          SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY CAST(CAST(concat('0x', substring(md5(concat_ws('|',
                            'cap', CAST(doc_id AS VARCHAR))), 1, 7)) AS BIGINT)
                            AS DOUBLE) / 268435456.0 ASC,
                            doc_id ASC) AS rn
          FROM documents)
        SELECT doc_id, source FROM r WHERE rn <= 15
    """,
    # mirrors sample_to_mix exactly: shares of en/de/fr = 0.5/0.25/0.25
    # (dyadic, so float order-of-addition cannot diverge), binding group
    # kept whole, others hash-downsampled with the same md5 membership
    "sample_mix": """
        WITH w(g, share) AS (VALUES ('en', 0.5), ('de', 0.25), ('fr', 0.25)),
        c AS (SELECT lang AS g, count(*) AS n FROM documents
              WHERE lang IN ('en','de','fr') GROUP BY lang),
        s AS (SELECT min(n / share) AS scale FROM c JOIN w USING (g)),
        f AS (SELECT c.g, least(1.0, (SELECT scale FROM s) * share / n) AS frac
              FROM c JOIN w USING (g))
        SELECT d.doc_id, d.lang
        FROM documents d JOIN f ON d.lang = f.g
        WHERE CAST(CAST(concat('0x', substring(md5(concat_ws('|', 'mix',
                 CAST(d.doc_id AS VARCHAR))), 1, 7)) AS BIGINT) AS DOUBLE)
              / 268435456.0 < f.frac
    """,
    # batch twin of the stream-stream watermarked time-bounded join: plain
    # range join, same inclusive bounds (lookback 1h, lookahead 0)
    "streaming_time_join": """
        SELECT l.event_id, l.user_id,
               epoch_us(l.ts) AS ts_us,
               epoch_us(r.ts) AS r_ts_us,
               round(r.value, 6) AS r_value
        FROM events l JOIN events r
          ON l.user_id = r.user_id
         AND r.event_type = 'purchase'
         AND r.ts >= l.ts - INTERVAL 1 HOUR
         AND r.ts <= l.ts
    """,
    "events_json": """
        SELECT event_type,
               round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k,
               count(*) AS n
        FROM events GROUP BY event_type
    """,
    "media_metadata": """
        SELECT doc_id,
               octet_length(encode(text)) AS n_bytes,
               CASE WHEN starts_with(text, 'GIF8') THEN 'gif'
                    WHEN starts_with(text, 'RIFF') THEN 'riff'
                    WHEN starts_with(text, 'ID3')  THEN 'mp3'
                    WHEN starts_with(text, 'fLaC') THEN 'flac'
                    ELSE 'unknown' END AS format,
               md5(text) AS content_md5
        FROM documents
    """,
    "media_features": """
        SELECT doc_id, u.i AS bin_idx,
               round((32 - length(replace(md5(text), u.c, ''))) / 32.0, 6) AS feat_val
        FROM documents,
             (SELECT unnest(['0','1','2','3','4','5','6','7',
                             '8','9','a','b','c','d','e','f']) AS c,
                     unnest(range(16)) AS i) u
    """,
    "media_frames": """
        WITH d AS (
          SELECT doc_id, octet_length(encode(text)) AS n,
                 greatest(1, octet_length(encode(text)) // 64) AS nc
          FROM documents
        ),
        e AS (
          SELECT doc_id, n,
                 unnest(range(0, least(nc, 8), 2)) AS frame_idx
          FROM d
        )
        SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
               least(64, n - frame_idx * 64) AS frame_len
        FROM e
    """,
    "vocab_features": """
        WITH gt AS (SELECT p_name AS name, min(p_partkey) AS gt_uid FROM part GROUP BY p_name),
        nm AS (SELECT p_partkey AS uid, p_name AS name FROM part),
        keys AS (SELECT DISTINCT name FROM (SELECT name FROM nm UNION ALL SELECT name FROM gt)),
        ranked AS (SELECT name, row_number() OVER (ORDER BY name) - 1 AS r FROM keys),
        gtr AS (SELECT gt_uid, name AS gname, r AS gt_r FROM gt JOIN ranked USING(name)),
        nmr AS (SELECT uid, name, r FROM nm JOIN ranked USING(name)),
        prs AS (SELECT uid, gt_uid, name AS a, gname AS b FROM nmr JOIN gtr ON abs(gt_r - r) <= 2),
        alln AS (SELECT DISTINCT p_name AS n FROM part),
        nd AS (SELECT count(*) AS c FROM alln),
        tok AS (SELECT n, unnest(list_distinct(regexp_extract_all(lower(n), '[a-z0-9_]{2,}'))) AS token FROM alln),
        dfreq AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
        vcl AS (SELECT coalesce(list(token), []) AS l FROM dfreq, nd WHERE df >= 0.05 * c),
        cml AS (SELECT coalesce(list(token), []) AS l FROM dfreq, nd WHERE df >= 0.001 * c AND df < 0.05 * c),
        tt AS (SELECT uid, gt_uid,
                 list_distinct(regexp_extract_all(lower(a), '[a-z0-9_]{2,}')) AS s1,
                 list_distinct(regexp_extract_all(lower(b), '[a-z0-9_]{2,}')) AS s2
               FROM prs),
        hm AS (SELECT uid, gt_uid, s1, s2,
                 list_intersect(s1, s2) AS hits,
                 list_filter(list_distinct(list_concat(s1, s2)),
                             t -> NOT list_contains(list_intersect(s1, s2), t)) AS misses
               FROM tt)
        SELECT uid, gt_uid,
               CAST(len(list_intersect(hits, vcl.l)) AS DOUBLE) AS f_very_common_hit,
               CAST(len(list_intersect(hits, cml.l)) AS DOUBLE) AS f_common_hit,
               CAST(len(hits) - len(list_intersect(hits, vcl.l))
                    - len(list_intersect(hits, cml.l)) AS DOUBLE) AS f_rare_hit,
               CAST(len(list_intersect(misses, vcl.l)) AS DOUBLE) AS f_very_common_miss,
               CAST(len(list_intersect(misses, cml.l)) AS DOUBLE) AS f_common_miss,
               CAST(len(misses) - len(list_intersect(misses, vcl.l))
                    - len(list_intersect(misses, cml.l)) AS DOUBLE) AS f_rare_miss,
               CAST(len(hits) AS DOUBLE) AS f_n_overlap_words,
               round(len(hits) / CAST(len(hits) + len(misses) AS DOUBLE), 6) AS f_ratio_overlap_words,
               CAST(abs(len(s1) - len(s2)) AS DOUBLE) AS f_num_word_difference
        FROM hm, vcl, cml
    """,
    # suffix-stripping LEF semantics (longest-first alternation, two stacked
    # suffixes, reading order) — the regex alternation is generated from the
    # SAME term list the Spark operator uses (operators/features.py
    # LEGAL_FORM_TERMS), so both engines match identically.
    "lef_match": f"""
        WITH base AS (SELECT p_partkey AS uid, lower(p_name) AS nm,
                        CAST(p_partkey % 4 AS INT) AS ia,
                        CAST((p_partkey // 4) % 4 AS INT) AS ib FROM part),
        nm2 AS (SELECT uid,
                 concat_ws(' ', nm, (['bv','ltd','kabushiki kaisha',''])[ia+1]) AS name1,
                 concat_ws(' ', nm, (['bv','sp z o o','','bv ltd'])[ib+1]) AS name2 FROM base),
        lx AS (SELECT uid,
                 regexp_extract(name1, '{{LEFRE}}', 1) AS a1,
                 regexp_extract(regexp_replace(name1, '{{LEFRE}}', ''), '{{LEFRE}}', 1) AS a2,
                 regexp_extract(name2, '{{LEFRE}}', 1) AS b1,
                 regexp_extract(regexp_replace(name2, '{{LEFRE}}', ''), '{{LEFRE}}', 1) AS b2
               FROM nm2),
        lf AS (SELECT uid,
                 CASE WHEN a1 = '' THEN '' WHEN a2 = '' THEN a1 ELSE a2 || ':' || a1 END AS lef1,
                 CASE WHEN b1 = '' THEN '' WHEN b2 = '' THEN b1 ELSE b2 || ':' || b1 END AS lef2
               FROM lx),
        cat AS (SELECT uid, lef1, lef2,
                 CASE WHEN lef1 = '' AND lef2 = '' THEN 'lef1_lef2_missing'
                      WHEN lef1 = '' THEN 'lef1_missing'
                      WHEN lef2 = '' THEN 'lef2_missing'
                      WHEN lef1 = lef2 THEN 'identical'
                      WHEN list_sort(string_split(lef1, ':')) = list_sort(string_split(lef2, ':'))
                           THEN 'identical'
                      WHEN len(list_intersect(string_split(lef1, ':'), string_split(lef2, ':'))) > 0
                           THEN 'partial_match'
                      ELSE 'no_match' END AS f_lef_match
               FROM lf)
        SELECT uid, lef1, lef2, f_lef_match,
               CASE f_lef_match WHEN 'identical' THEN 1.0 WHEN 'partial_match' THEN 0.5
                    WHEN 'no_match' THEN -1.0 WHEN 'lef1_missing' THEN 0.0
                    WHEN 'lef2_missing' THEN 0.0 ELSE 0.25 END AS f_lef_score
        FROM cat
    """.replace("{LEFRE}", _LEF_RE_SQL),
    "country_match": """
        WITH gt AS (SELECT p_name AS name, min(p_partkey) AS gt_uid FROM part GROUP BY p_name),
        nm AS (SELECT p_partkey AS uid, p_name AS name FROM part),
        keys AS (SELECT DISTINCT name FROM (SELECT name FROM nm UNION ALL SELECT name FROM gt)),
        ranked AS (SELECT name, row_number() OVER (ORDER BY name) - 1 AS r FROM keys),
        gtr AS (SELECT gt_uid, r AS gt_r FROM gt JOIN ranked USING(name)),
        nmr AS (SELECT uid, r FROM nm JOIN ranked USING(name)),
        prs AS (SELECT uid, gt_uid FROM nmr JOIN gtr ON abs(gt_r - r) <= 2),
        nmc AS (SELECT p_partkey AS uid, nullif(p_brand, 'Brand#11') AS c1 FROM part),
        gtc AS (SELECT p_partkey AS gt_uid, nullif(p_brand, 'Brand#11') AS c2 FROM part)
        SELECT uid, gt_uid,
               CASE WHEN c1 IS NULL OR c2 IS NULL THEN 0.0
                    WHEN c1 = c2 THEN 1.0 ELSE -1.0 END AS f_country_match
        FROM prs JOIN nmc USING(uid) JOIN gtc USING(gt_uid)
    """,
    "audio_stats": """
        WITH b AS (
          SELECT doc_id,
                 ascii(substr(text, CAST(i AS INT), 1)) AS v
          FROM (SELECT doc_id, text,
                       unnest(range(1, length(text) + 1)) AS i
                FROM documents)
        )
        SELECT d.doc_id,
               octet_length(encode(d.text)) AS n_samples,
               round(avg(b.v), 6) AS mean_amp,
               round(CAST(max(b.v) AS DOUBLE), 6) AS max_amp
        FROM documents d JOIN b ON d.doc_id = b.doc_id
        GROUP BY d.doc_id, d.text
    """,
    "cossim_char_blocked": """
        WITH gt AS (SELECT p_name AS name, min(p_partkey) AS gt_uid FROM part GROUP BY p_name),
        nm AS (SELECT p_partkey AS uid, p_name AS name FROM part),
        n AS (SELECT count(*) AS n_docs FROM gt),
        gtok AS (SELECT DISTINCT gt_uid, substring(name, CAST(i AS INT), 2) AS token
                 FROM (SELECT gt_uid, name,
                              unnest(generate_series(1, greatest(length(name)-1, 1))) AS i
                       FROM gt)),
        vocab AS (SELECT token, count(*) AS df FROM gtok GROUP BY token),
        idf AS (SELECT token, ln((n_docs+1.0)/(df+1.0)) AS idf FROM vocab, n),
        gblk AS (SELECT gt_uid, substring(regexp_replace(name, '\\s', '', 'g'), 1, 1) AS block FROM gt),
        gw AS (SELECT gt_uid, g.token, idf FROM gtok g JOIN idf USING(token)),
        gn AS (SELECT gt_uid, sqrt(sum(idf*idf)) AS nrm FROM gw GROUP BY gt_uid),
        gwn AS (SELECT gt_uid, token, idf/nrm AS wt FROM gw JOIN gn USING(gt_uid)),
        ntok AS (SELECT DISTINCT uid, substring(name, CAST(i AS INT), 2) AS token
                 FROM (SELECT uid, name,
                              unnest(generate_series(1, greatest(length(name)-1, 1))) AS i
                       FROM nm)),
        nblk AS (SELECT uid, substring(regexp_replace(name, '\\s', '', 'g'), 1, 1) AS block FROM nm),
        nw AS (SELECT uid, t.token, idf FROM ntok t JOIN idf USING(token)),
        nn AS (SELECT uid, sqrt(sum(idf*idf)) AS nrm FROM nw GROUP BY uid),
        nwn AS (SELECT uid, token, idf/nrm AS wt FROM nw JOIN nn USING(uid)),
        pairs AS (SELECT q.uid, g.gt_uid, round(sum(q.wt*g.wt), 6) AS score
                  FROM nwn q JOIN gwn g USING(token)
                  JOIN nblk ON nblk.uid = q.uid
                  JOIN gblk ON gblk.gt_uid = g.gt_uid
                  WHERE nblk.block = gblk.block
                  GROUP BY q.uid, g.gt_uid),
        ranked AS (SELECT uid, gt_uid, score,
                          row_number() OVER (PARTITION BY uid ORDER BY score DESC, gt_uid DESC) AS rank
                   FROM pairs WHERE score > 0.2)
        SELECT uid, gt_uid, round(score, 6) AS score, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 5
    """,
    "ivf_topk": """
        WITH eu AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        un AS (
          SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vu
          FROM eu WHERE list_dot_product(v, v) > 0
        ),
        ch AS (
          SELECT vec_id, CAST(concat('0x', substring(md5(concat_ws('|', 'ivf42',
                   CAST(vec_id AS VARCHAR))), 1, 7)) AS BIGINT) AS h
          FROM embeddings
        ),
        cr AS (SELECT vec_id, row_number() OVER (ORDER BY h, vec_id) AS rn FROM ch),
        cent AS (SELECT cr.rn - 1 AS cent_id, u.vu AS cu
                 FROM cr JOIN un u USING (vec_id) WHERE cr.rn <= 16),
        assign AS (
          SELECT nn_id, cent_id FROM (
            SELECT u.vec_id AS nn_id, c.cent_id,
                   row_number() OVER (PARTITION BY u.vec_id
                     ORDER BY round(list_dot_product(u.vu, c.cu), 6) DESC, c.cent_id) AS r
            FROM un u CROSS JOIN cent c) WHERE r = 1
        ),
        probe AS (
          SELECT qid, cent_id FROM (
            SELECT u.vec_id AS qid, c.cent_id,
                   row_number() OVER (PARTITION BY u.vec_id
                     ORDER BY round(list_dot_product(u.vu, c.cu), 6) DESC, c.cent_id) AS r
            FROM un u CROSS JOIN cent c WHERE u.vec_id < 20) WHERE r <= 4
        ),
        pairs AS (
          SELECT p.qid, a.nn_id,
                 round(list_dot_product(qv.vu, cv.vu), 6) AS score
          FROM probe p JOIN assign a USING (cent_id)
          JOIN un qv ON qv.vec_id = p.qid
          JOIN un cv ON cv.vec_id = a.nn_id
        ),
        ranked AS (
          SELECT qid, nn_id, score,
                 row_number() OVER (PARTITION BY qid ORDER BY score DESC, nn_id) AS rank
          FROM pairs)
        SELECT qid, nn_id, score, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 5
    """,
    "naive_pairs": """
        WITH gt AS (SELECT min(p_partkey) AS gt_uid FROM part
                    WHERE p_partkey <= 500 GROUP BY p_name),
        nm AS (SELECT p_partkey AS uid FROM part WHERE p_partkey <= 200)
        SELECT uid, gt_uid, 1.0 AS score, CAST(1 AS INT) AS rank
        FROM nm CROSS JOIN gt
    """,
    "events_sliding": """
        SELECT time_bucket(INTERVAL 15 MINUTE, ts) - CAST(k AS INT) * INTERVAL 15 MINUTE AS window_start,
               event_type,
               count(*) AS n_events,
               round(sum(value), 6) AS sum_value
        FROM events, generate_series(0, 3) AS g(k)
        GROUP BY 1, 2
    """,
    "repetition_stats": """
        WITH tok AS (SELECT doc_id,
                       list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
                     FROM documents),
        base AS (SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS u, toks FROM tok),
        bg AS (SELECT doc_id, toks[CAST(i AS INT)] || ' ' || toks[CAST(i AS INT) + 1] AS bigram
               FROM (SELECT doc_id, toks,
                            unnest(generate_series(1, len(toks) - 1)) AS i
                     FROM base WHERE len(toks) >= 2)),
        cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram),
        top AS (SELECT doc_id, c FROM (
                  SELECT doc_id, c,
                         row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, bigram ASC) AS r
                  FROM cnt) WHERE r = 1)
        SELECT b.doc_id,
               round(CASE WHEN b.n > 0 THEN 1.0 - u / CAST(b.n AS DOUBLE) ELSE 0.0 END, 6) AS dup_token_ratio,
               round(coalesce(2.0 * t.c, 0.0) / CAST(greatest(b.n, 1) AS DOUBLE), 6) AS top_bigram_ratio
        FROM base b LEFT JOIN top t USING (doc_id)
    """,
    "curation_pipeline": """
        WITH tok AS (SELECT doc_id, text,
                       list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
                     FROM documents),
        hits AS (
          SELECT doc_id, 'en' AS lang, len(list_filter(toks, x -> x IN ('the','and','of','to','in','is','that','it'))) AS h FROM tok
          UNION ALL
          SELECT doc_id, 'de', len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))) FROM tok
          UNION ALL
          SELECT doc_id, 'fr', len(list_filter(toks, x -> x IN ('le','la','les','et','est','un','une','que'))) FROM tok
          UNION ALL
          SELECT doc_id, 'es', len(list_filter(toks, x -> x IN ('el','la','los','de','y','es','un','una'))) FROM tok
          UNION ALL
          SELECT doc_id, 'nl', len(list_filter(toks, x -> x IN ('de','het','een','en','van','is','niet','dat'))) FROM tok
        ),
        pick AS (SELECT doc_id, lang, h,
                        row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, lang DESC) AS rn
                 FROM hits),
        en AS (SELECT t.doc_id, t.text, t.toks
               FROM tok t JOIN pick p ON t.doc_id = p.doc_id AND p.rn = 1
               WHERE p.h > 0 AND p.lang = 'en'),
        q AS (SELECT doc_id, text,
                     round(
                       (CASE WHEN len(toks) >= 5 THEN 1.0 ELSE len(toks) / 5.0 END)
                       * (CASE WHEN list_aggregate(list_transform(toks, x -> CAST(length(x) AS DOUBLE)), 'sum') / len(toks) BETWEEN 2 AND 12
                               THEN 1.0 ELSE 0.5 END)
                       * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                          / CAST(greatest(length(text), 1) AS DOUBLE)), 6) AS quality
              FROM en),
        qf AS (SELECT * FROM q WHERE quality >= 0.5),
        dd AS (SELECT doc_id, quality,
                      row_number() OVER (PARTITION BY md5(trim(lower(text)))
                                         ORDER BY doc_id) AS rn
               FROM qf)
        SELECT doc_id, quality FROM dd
        WHERE rn = 1
          AND CAST(CAST(concat('0x', substring(md5(concat_ws('|', 'curate',
                CAST(doc_id AS VARCHAR))), 1, 7)) AS BIGINT) AS DOUBLE)
              / 268435456.0 < 0.5
    """,
    "grouped_split": f"""
        WITH {_SQL_CANDS},
        j AS (SELECT c.uid, c.gt_uid, (n2.name = g.name) AS correct
              FROM cand c JOIN nm n2 ON c.uid = n2.uid
                          JOIN gt g ON c.gt_uid = g.gt_uid),
        st AS (SELECT uid, max(CASE WHEN correct THEN 1 ELSE 0 END) AS s
               FROM j GROUP BY uid)
        SELECT j.uid, j.gt_uid,
               CAST(floor(
                 CAST(CAST(concat('0x', substring(md5(concat_ws('|', 'fold',
                       concat_ws('#', CAST(st.s AS VARCHAR), CAST(j.uid AS VARCHAR))
                     )), 1, 7)) AS BIGINT) AS DOUBLE)
                 / 268435456.0 * 5) AS INT) AS fold
        FROM j JOIN st ON j.uid = st.uid
    """,
}

# IVFIndex build->save->load->search is pinned equal to ivf_topk at the same
# parameters (tests/test_ann.py), so the persistence-cycle contract row
# shares ivf_topk's EXACT oracle verbatim.
_ORACLE["ivf_index_topk"] = _ORACLE["ivf_topk"]


def _gopher_rep_sql() -> str:
    """Oracle for gopher_repetition, GENERATED from the package's own
    thresholds dict and n-gram tuples (single source of truth): per-row
    list expressions for the line/paragraph/dup-n-gram fractions, unnest +
    count + deterministic-tie-break window per top-n, same 6dp rounding
    and 1.0 clamps as the Spark operator."""
    from entitymatchingmodel_spark.functions.text import (
        _DUP_NGRAM_NS,
        _TOP_NGRAM_NS,
        GOPHER_REPETITION_THRESHOLDS as TH,
    )

    def ngram(n: int) -> str:
        parts = " || ' ' || ".join(f"ws[CAST(i AS INT)+{j}]" for j in range(n))
        return f"list_transform(generate_series(1, len(ws) - {n - 1}), i -> {parts})"

    def sumlen(arr: str, minus: int = 0) -> str:
        fn = f"length(x) - {minus}" if minus else "length(x)"
        return f"coalesce(list_aggregate(list_transform({arr}, x -> {fn}), 'sum'), 0)"

    ng_defs = ",\n         ".join(
        f"{ngram(n)} AS ng{n}" for n in (*_TOP_NGRAM_NS, *_DUP_NGRAM_NS)
    )
    dup_exprs = ",\n    ".join(
        f"CASE WHEN nw < {n} THEN 0.0 ELSE round(least(1.0, "
        f"({sumlen(f'ng{n}', n - 1)} - {sumlen(f'list_distinct(ng{n})', n - 1)})"
        f" / CAST(cc AS DOUBLE)), 6) END AS dup_{n}gram_char_frac"
        for n in _DUP_NGRAM_NS
    )
    top_ctes = ",\n".join(
        f"ex{n} AS (SELECT doc_id, cc, unnest(ng{n}) AS g FROM base),\n"
        f"c{n} AS (SELECT doc_id, cc, g, count(*) AS c FROM ex{n}\n"
        f"         GROUP BY doc_id, cc, g HAVING count(*) >= 2),\n"
        f"t{n} AS (SELECT doc_id,\n"
        f"           round(least(1.0, c * (length(g) - {n - 1}) / CAST(cc AS DOUBLE)), 6) AS f{n}\n"
        f"         FROM (SELECT doc_id, cc, g, c, row_number() OVER (\n"
        f"                 PARTITION BY doc_id ORDER BY c DESC, length(g) DESC, g ASC) AS rn\n"
        f"               FROM c{n}) WHERE rn = 1)"
        for n in _TOP_NGRAM_NS
    )
    top_cols = ",\n       ".join(
        f"coalesce(t{n}.f{n}, 0.0) AS top_{n}gram_char_frac" for n in _TOP_NGRAM_NS
    )
    top_joins = " ".join(f"LEFT JOIN t{n} USING (doc_id)" for n in _TOP_NGRAM_NS)
    frac_names = (
        ["dup_line_frac", "dup_para_frac", "dup_line_char_frac", "dup_para_char_frac"]
        + [f"top_{n}gram_char_frac" for n in _TOP_NGRAM_NS]
        + [f"dup_{n}gram_char_frac" for n in _DUP_NGRAM_NS]
    )
    keep = " AND ".join(f"{name} <= {TH[name]}" for name in frac_names)
    null_cols = ", ".join(f"NULL AS {name}" for name in frac_names)
    return f"""
    WITH w AS (SELECT doc_id, text,
                 list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws
               FROM documents WHERE text IS NOT NULL),
    base AS (SELECT doc_id, ws, len(ws) AS nw,
               {sumlen('ws')} AS cc,
               list_filter(regexp_split_to_array(text, '\\n'), l -> trim(l) <> '') AS lines,
               list_filter(regexp_split_to_array(text, '\\n\\n+'), p -> trim(p) <> '') AS paras,
               {ng_defs}
             FROM w WHERE len(ws) > 0),
    {top_ctes},
    m AS (SELECT doc_id, cc,
            round((len(lines) - len(list_distinct(lines))) / CAST(len(lines) AS DOUBLE), 6) AS dup_line_frac,
            round((len(paras) - len(list_distinct(paras))) / CAST(len(paras) AS DOUBLE), 6) AS dup_para_frac,
            round(({sumlen('lines')} - {sumlen('list_distinct(lines)')}) / CAST({sumlen('lines')} AS DOUBLE), 6) AS dup_line_char_frac,
            round(({sumlen('paras')} - {sumlen('list_distinct(paras)')}) / CAST({sumlen('paras')} AS DOUBLE), 6) AS dup_para_char_frac,
            {dup_exprs}
          FROM base),
    f AS (SELECT m.doc_id,
            m.dup_line_frac, m.dup_para_frac, m.dup_line_char_frac, m.dup_para_char_frac,
            {top_cols},
            {', '.join('m.dup_' + str(n) + 'gram_char_frac' for n in _DUP_NGRAM_NS)}
          FROM m {top_joins})
    SELECT doc_id, {', '.join(frac_names)}, ({keep}) AS keep_repetition FROM f
    UNION ALL
    SELECT doc_id, {null_cols}, FALSE AS keep_repetition
    FROM documents
    WHERE text IS NULL
       OR len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) = 0
    """


_ORACLE["gopher_repetition"] = _gopher_rep_sql()

# fused Gopher filter: conjunction of the two generated fragments (each
# used as a parenthesized CTE-bearing subquery — values identical to the
# standalone rows by construction)
_ORACLE["gopher_keep"] = f"""
    SELECT r.doc_id,
           r.keep AS keep_rules,
           p.keep_repetition,
           (r.keep AND p.keep_repetition) AS keep
    FROM ({_ORACLE["gopher_quality"]}) r
    JOIN ({_ORACLE["gopher_repetition"]}) p USING (doc_id)
"""

# generated from _RD_SUFFIXES/_RD_TLDS/_RD_NULL_EVERY: the oracle
# reconstructs the registrable domain straight from the plant parameters
# (host = a.<source>.<tld>; listed multi/single-label suffixes resolve to
# <source>.<tld>, the unlisted 'zz' falls back to the naive two labels —
# same answer <source>.zz — and the bare-suffix plant yields NULL)
_ORACLE["reg_domain"] = f"""
    SELECT doc_id,
           CASE WHEN doc_id % {_RD_NULL_EVERY} = 0 THEN NULL
                ELSE lower(source) || '.' ||
                     CASE CAST(doc_id % {len(_RD_TLDS)} AS INT)
                          {" ".join(f"WHEN {i} THEN '{t}'" for i, t in enumerate(_RD_TLDS))}
                     END
           END AS reg_domain
    FROM documents
"""

# the upsample twin of temperature_mix_domain: same synthesized domain
# key, max-anchored repeat chain, generate_series explode with the
# hash-gated fractional copy (salt 'temp')
_ORACLE["resample_domain"] = f"""
    WITH d AS (SELECT doc_id, concat_ws('_', source,
             CAST(CAST(concat('0x', substring(md5(concat_ws('|', '{_DOM_SALT}',
                  CAST(doc_id AS VARCHAR))), 1, 4)) AS BIGINT)
                  % {_DOM_BUCKETS} AS VARCHAR)) AS domain
         FROM documents),
    c AS (SELECT domain AS g, CAST(count(*) AS DOUBLE) AS n
          FROM d WHERE domain IS NOT NULL GROUP BY domain),
    mr AS (SELECT max(n / pow(n, {_DOM_ALPHA})) AS m FROM c),
    f AS (SELECT g, round(greatest(1.0, (SELECT m FROM mr) * pow(n, {_DOM_ALPHA}) / n), 12) AS r
          FROM c),
    e AS (SELECT d.doc_id, d.domain, f.r,
                 CAST(CAST(concat('0x', substring(md5(concat_ws('|', 'temp',
                      CAST(d.doc_id AS VARCHAR))), 1, 7)) AS BIGINT) AS DOUBLE)
                 / 268435456.0 AS h
          FROM d JOIN f ON d.domain = f.g)
    SELECT doc_id, domain, CAST(copy AS INT) AS copy
    FROM (SELECT doc_id, domain,
                 unnest(generate_series(0,
                    CAST(floor(r) AS BIGINT)
                    + (CASE WHEN h < r - floor(r) THEN 1 ELSE 0 END)
                    - 1)) AS copy
          FROM e)
"""

# BigramLM fit->save->load->score with the clean-reference slice: the
# oracle is the SAME generated fragment as lm_perplexity, reference
# filtered by the SAME constant the Spark row uses (integer counts + the
# V scalar round-trip through parquet/json exactly, pinned in
# tests/test_lm.py).
_ORACLE["lm_fit_score"] = _lm_oracle_sql(_LM_REF_FILTER)

# CCNet banding: the lm fragment as a derived table + per-lang type-1
# quantile thresholds (the grouped_quantiles rank rule: min(x | rn >=
# greatest(1, ceil(q*n)))) + the band CASE — all three pieces generated
# from the same constants the Spark row uses.
_ORACLE["ppl_bands"] = f"""
    WITH lmres AS ({_lm_oracle_sql("TRUE")}),
    scores AS (SELECT l.doc_id, d.lang, l.perplexity
               FROM lmres l JOIN documents d USING (doc_id)),
    s AS (SELECT lang, perplexity,
                 row_number() OVER (PARTITION BY lang ORDER BY perplexity) AS rn,
                 count(*) OVER (PARTITION BY lang) AS n
          FROM scores WHERE perplexity IS NOT NULL AND NOT isnan(perplexity)),
    t AS (SELECT lang,
                 min(CASE WHEN rn >= greatest(1, CAST(ceil({_PPL_LO!r} * n) AS BIGINT))
                          THEN perplexity END) AS t_lo,
                 min(CASE WHEN rn >= greatest(1, CAST(ceil({_PPL_HI!r} * n) AS BIGINT))
                          THEN perplexity END) AS t_hi
          FROM s GROUP BY lang)
    SELECT sc.doc_id, sc.lang, sc.perplexity,
           CASE WHEN sc.perplexity IS NULL THEN NULL
                WHEN sc.perplexity <= t.t_lo THEN 'head'
                WHEN sc.perplexity <= t.t_hi THEN 'middle'
                ELSE 'tail' END AS band
    FROM scores sc LEFT JOIN t USING (lang)
"""


def _kmeans_oracle_sql(k: int, n_iter: int, dec: int, seed: int) -> str:
    """Unrolled-iteration spherical k-means oracle, GENERATED from the same
    constants as q_kmeans_clusters (one fragment per Lloyd step) so query
    and oracle cannot desync.  Mirrors operators/clustering.py exactly:
    md5-ordered init over the VALID unit vectors (salt 'km<seed>'; unlike
    ivf's raw-corpus sample, zero-norm rows can't occupy an init slot),
    round-before-rank dots,
    per-coordinate rounded means, renormalize-and-round, empty/zero-norm
    clusters keep the previous centroid."""
    parts = [f"""
        WITH eu AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        un AS (
          SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vu
          FROM eu WHERE list_dot_product(v, v) > 0
        ),
        ch AS (
          SELECT vec_id, CAST(concat('0x', substring(md5(concat_ws('|', 'km{seed}',
                   CAST(vec_id AS VARCHAR))), 1, 7)) AS BIGINT) AS h
          FROM un
        ),
        cr AS (SELECT vec_id, row_number() OVER (ORDER BY h, vec_id) AS rn FROM ch),
        cent0 AS (SELECT cr.rn - 1 AS cent_id,
                         list_transform(u.vu, x -> round(x, {dec})) AS cu
                  FROM cr JOIN un u USING (vec_id) WHERE cr.rn <= {k})"""]
    for i in range(1, n_iter + 1):
        parts.append(f""",
        a{i} AS (SELECT vec_id, cent_id FROM (
            SELECT u.vec_id, c.cent_id,
                   row_number() OVER (PARTITION BY u.vec_id
                     ORDER BY round(list_dot_product(u.vu, c.cu), {dec}) DESC, c.cent_id) AS r
            FROM un u CROSS JOIN cent{i - 1} c) WHERE r = 1),
        e{i} AS (SELECT a.cent_id, u.vu,
                        unnest(generate_series(1, len(u.vu))) AS pos
                 FROM a{i} a JOIN un u USING (vec_id)),
        m{i} AS (SELECT cent_id, pos, round(avg(vu[CAST(pos AS INT)]), {dec}) AS mv
                 FROM e{i} GROUP BY cent_id, pos),
        v{i} AS (SELECT cent_id, list(mv ORDER BY pos) AS m FROM m{i} GROUP BY cent_id),
        cent{i} AS (SELECT c.cent_id,
                      CASE WHEN v.m IS NOT NULL AND list_dot_product(v.m, v.m) > 0
                           THEN list_transform(v.m, x -> round(x / sqrt(list_dot_product(v.m, v.m)), {dec}))
                           ELSE c.cu END AS cu
                    FROM cent{i - 1} c LEFT JOIN v{i} v USING (cent_id))""")
    parts.append(f"""
        SELECT vec_id, CAST(cent_id AS INT) AS cluster, score FROM (
            SELECT u.vec_id, c.cent_id,
                   round(list_dot_product(u.vu, c.cu), {dec}) AS score,
                   row_number() OVER (PARTITION BY u.vec_id
                     ORDER BY round(list_dot_product(u.vu, c.cu), {dec}) DESC, c.cent_id) AS r
            FROM un u CROSS JOIN cent{n_iter} c) WHERE r = 1""")
    return "".join(parts)


_ORACLE["kmeans_clusters"] = _kmeans_oracle_sql(_KM_K, _KM_ITER, _KM_DEC, _KM_SEED)

# the streaming router is pinned equal to the batch assignment
# (tests/test_clustering.py::test_streaming_assign_matches_batch), so the
# stream contract row shares the generated batch oracle verbatim
_ORACLE["kmeans_stream_assign"] = _ORACLE["kmeans_clusters"]

# cluster_balanced_sample = the generated k-means oracle (n_iter=1, see
# q_cluster_balanced_sample) with the per_group_cap hash-rank membership
# on top (md5 'cap|id' rank within cluster — the same formula as the
# source_cap oracle).
_ORACLE["cluster_balanced_sample"] = f"""
    SELECT vec_id, cluster, score FROM (
      SELECT vec_id, cluster, score,
             row_number() OVER (
               PARTITION BY cluster
               ORDER BY CAST(CAST(concat('0x', substring(md5(concat_ws('|',
                        'cap', CAST(vec_id AS VARCHAR))), 1, 7)) AS BIGINT)
                        AS DOUBLE) / 268435456.0 ASC,
                        vec_id ASC) AS rn
      FROM ({_kmeans_oracle_sql(_KM_K, 1, _KM_DEC, _KM_SEED)}) base)
    WHERE rn <= {_KM_CAP}
"""


# generated from _BLOCK_TERMS: occurrences (not distinct terms) counted
# over the corpus-wide lowercase [^a-z0-9]+ token convention; NULL text
# counts as empty
_ORACLE["blocklist_filter"] = f"""
    WITH tok AS (SELECT doc_id,
            list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                        '[^a-z0-9]+'), x -> x <> '') AS toks
          FROM documents),
    h AS (SELECT doc_id, toks,
                 len(list_filter(toks,
                     t -> t IN ({", ".join(f"'{t}'" for t in _BLOCK_TERMS)}))) AS nb
          FROM tok)
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(nb AS INT) AS n_blocked,
           CASE WHEN len(toks) > 0
                THEN round(nb / CAST(len(toks) AS DOUBLE), 6) END AS blocked_ratio,
           nb = 0 AS keep
    FROM h
"""

# generated from _DSIR_BUCKETS/_DSIR_ALPHA: the full DSIR pipeline —
# uni+bi-grams, md5-derived buckets, add-alpha multinomials for the
# lang='en' target vs the whole corpus, integer micro-unit log-ratios
# (order-free sums, so the per-doc score is engine-exact)
_ORACLE["dsir_scores"] = f"""
    WITH tok AS (SELECT doc_id, lang,
            list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                        '[^a-z0-9]+'), x -> x <> '') AS toks
          FROM documents),
    grams AS (
      SELECT doc_id, lang, unnest(toks) AS g FROM tok
      UNION ALL
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i+1]))
      FROM tok WHERE len(toks) >= 2
    ),
    b AS (SELECT doc_id, lang,
                 CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)
                   % {_DSIR_BUCKETS} AS bucket
          FROM grams),
    ct AS (SELECT bucket, count(*) AS c_target FROM b
           WHERE lang = 'en' GROUP BY 1),
    cr AS (SELECT bucket, count(*) AS c_raw FROM b GROUP BY 1),
    j AS (SELECT coalesce(ct.bucket, cr.bucket) AS bucket,
                 coalesce(c_target, 0) AS c_target,
                 coalesce(c_raw, 0) AS c_raw
          FROM ct FULL OUTER JOIN cr USING (bucket)),
    tot AS (SELECT sum(c_target) AS t_target, sum(c_raw) AS t_raw FROM j),
    r AS (SELECT bucket,
                 CAST(round((ln((c_target + {_DSIR_ALPHA})
                               / (t_target + {_DSIR_ALPHA * _DSIR_BUCKETS}))
                           - ln((c_raw + {_DSIR_ALPHA})
                               / (t_raw + {_DSIR_ALPHA * _DSIR_BUCKETS})))
                            * 1e6) AS BIGINT) AS lr_micro
          FROM j, tot),
    s AS (SELECT b.doc_id, count(bucket) AS n_grams, sum(r.lr_micro) AS s_micro
          FROM b LEFT JOIN r USING (bucket) GROUP BY 1)
    SELECT tok.doc_id,
           CAST(coalesce(n_grams, 0) AS INT) AS n_grams,
           round(s_micro / 1e6, 6) AS dsir_logratio
    FROM tok LEFT JOIN s ON tok.doc_id = s.doc_id
"""

# pareto_select: the quality formula (same as curation_pipeline /
# curate_batch oracles) + GPT-3's noisy threshold with the Pareto draw
# derived from the md5 unit hash (inverse CDF, Lomax form) — keep iff
# score > 1 - ((1-u)^(-1/alpha) - 1), with BOTH sides quantized to
# integer micro-units (round(v*1e6)) so a libm-pow ulp difference
# between engines cannot flip a keep: the engines disagree only if
# their pow results straddle a 0.5-micro rounding boundary, and
# tests/test_quality_clf.py measures every threshold's distance to the
# nearest boundary on this corpus (min margin pinned >= 1e-3 micro).
_ORACLE["pareto_select"] = f"""
    WITH tok AS (SELECT doc_id, text,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
                 FROM documents),
    q AS (SELECT doc_id,
                 round(
                   (CASE WHEN len(toks) >= 5 THEN 1.0 ELSE len(toks) / 5.0 END)
                   * (CASE WHEN list_aggregate(list_transform(toks, x -> CAST(length(x) AS DOUBLE)), 'sum') / len(toks) BETWEEN 2 AND 12
                           THEN 1.0 ELSE 0.5 END)
                   * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                      / CAST(greatest(length(text), 1) AS DOUBLE)), 6) AS quality_prob
          FROM tok),
    u AS (SELECT doc_id, quality_prob,
                 CAST(('0x' || substr(md5('pareto|' || CAST(doc_id AS VARCHAR)), 1, 7))
                      AS BIGINT) / 268435456.0 AS uh
          FROM q)
    SELECT doc_id, quality_prob
    FROM u
    WHERE CAST(round(quality_prob * 1e6) AS BIGINT)
          > CAST(round((1.0 - (power(1.0 - uh, -1.0 / {_PARETO_ALPHA}) - 1.0))
                       * 1e6) AS BIGINT)
"""

# reputation_filter: the pareto_select quality fragment -> integer
# micro-unit group sums -> the division-free threshold comparison
_ORACLE["reputation_filter"] = """
    WITH tok AS (SELECT doc_id, source, text,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
                 FROM documents),
    q AS (SELECT doc_id, source,
                 CAST(round(round(
                   (CASE WHEN len(toks) >= 5 THEN 1.0 ELSE len(toks) / 5.0 END)
                   * (CASE WHEN list_aggregate(list_transform(toks, x -> CAST(length(x) AS DOUBLE)), 'sum') / len(toks) BETWEEN 2 AND 12
                           THEN 1.0 ELSE 0.5 END)
                   * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                      / CAST(greatest(length(text), 1) AS DOUBLE)), 6) * 1e6) AS BIGINT) AS micro
          FROM tok),
    g AS (SELECT source FROM q GROUP BY source
          HAVING count(*) >= 5 AND sum(micro) >= 822000 * count(*))
    SELECT q.doc_id, q.source FROM q JOIN g USING (source)
"""

# shared C4 oracle fragments (used by curate_batch AND c4_rules below)
_C4_PHRASE_SQL = " OR ".join(
    f"contains(lower(t), '{p}')" for p in ("javascript", *C4_POLICY_PHRASES)
)
_C4_FIXED_SQL = ", ".join(f"'{x}'" for x in _C4_FIXED)

# curate_batch: replay the plant from the _CB_* constants, then the
# composed front-door in ITS stage order — quality (same formula as
# curation_pipeline) -> C4 rules (same shape as the c4_rules oracle) ->
# min-doc_id representative per md5 of the CLEANED text -> lang (same
# generated trigram fragments as the lang_id / streaming_curation
# oracles) scored on the representative's CLEANED text.
_ORACLE["curate_batch"] = f"""
    WITH planted AS (
      SELECT doc_id,
             array_to_string(
               [text || '.']
               || list_transform(generate_series(1, CAST(doc_id % 3 AS BIGINT)),
                                 i -> '{_CB_FILLER}')
               || ['{_CB_SHORT}', '{_CB_JS}', '{_CB_ELLIPSIS}']
               || (CASE WHEN doc_id % 7 = 0 THEN ['{_CB_LOREM}']
                        ELSE CAST([] AS VARCHAR[]) END)
               || (CASE WHEN doc_id % 11 = 0 THEN ['{_CB_CURLY}']
                        ELSE CAST([] AS VARCHAR[]) END),
               chr(10)) AS text
      FROM documents),
    tok AS (SELECT doc_id, text,
                   list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                               x -> x <> '') AS toks
            FROM planted),
    q AS (SELECT doc_id, text,
                 round(
                   (CASE WHEN len(toks) >= 5 THEN 1.0 ELSE len(toks) / 5.0 END)
                   * (CASE WHEN list_aggregate(list_transform(toks, x -> CAST(length(x) AS DOUBLE)), 'sum') / len(toks) BETWEEN 2 AND 12
                           THEN 1.0 ELSE 0.5 END)
                   * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                      / CAST(greatest(length(text), 1) AS DOUBLE)), 6) AS quality
          FROM tok),
    qf AS (SELECT doc_id, text, quality FROM q WHERE quality >= 0.5),
    c4 AS (SELECT doc_id, quality, text,
                  list_filter(
                    list_transform(string_split(text, chr(10)),
                                   x -> regexp_replace(x, '^\\s+|\\s+$', '', 'g')),
                    t -> regexp_matches(t, '[.!?"]$')
                         AND NOT ends_with(t, '...')
                         AND len(list_filter(regexp_split_to_array(t, '\\s+'),
                                             w -> w <> '')) >= 5
                         AND NOT ({_C4_PHRASE_SQL})
                  ) AS kept
           FROM qf),
    pages AS (SELECT doc_id, quality,
                     coalesce(array_to_string(kept, chr(10)), '') AS kept_text,
                     contains(lower(text), 'lorem ipsum') AS has_lorem,
                     contains(text, '{{') AS has_curly
              FROM c4),
    ok AS (SELECT doc_id, quality, kept_text,
                  md5(trim(lower(kept_text))) AS content_hash
           FROM pages
           WHERE NOT has_lorem AND NOT has_curly
             AND len(regexp_extract_all(kept_text, '[.!?]')) >= {_CB_MIN_SENT}),
    rep AS (SELECT content_hash, min(doc_id) AS doc_id FROM ok GROUP BY 1),
    reps AS (SELECT ok.doc_id, ok.quality, ok.kept_text, ok.content_hash
             FROM ok JOIN rep USING (content_hash, doc_id)),
    n AS (SELECT doc_id, quality, content_hash,
                 ' ' || trim(regexp_replace(lower(coalesce(kept_text, '')),
                             '[^a-z]+', ' ', 'g')) || ' ' AS t
          FROM reps),
    s AS MATERIALIZED (SELECT doc_id, quality, content_hash,
                 {{_LANG_HITS}}
          FROM n),
    b AS (SELECT *, {{_LANG_BEST}} AS best FROM s)
    SELECT doc_id, 'en' AS lang, quality, content_hash
    FROM b WHERE {{_LANG_WINS_EN}}
"""
_ORACLE["curate_batch"] = (
    _ORACLE["curate_batch"]
    .replace("{_LANG_HITS}", _lang_hits_select())
    .replace("{_LANG_BEST}", _lang_best_expr())
    .replace("{_LANG_WINS_EN}", _lang_wins_sql("en"))
)

# c4_rules: replay the deterministic plant from the _C4_* constants, then
# apply the line retention predicate (terminal mark, >=5 whitespace-words,
# no javascript / policy phrase) and the page verdicts in SQL
# (_C4_PHRASE_SQL / _C4_FIXED_SQL defined above curate_batch's oracle).
_ORACLE["c4_rules"] = f"""
    WITH planted AS (
      SELECT doc_id,
             array_to_string(
               list_transform(generate_series(1, CAST(doc_id % 8 AS BIGINT)),
                 i -> '{_C4_GOOD}' || CAST(doc_id % 5 AS VARCHAR) || '.')
               || [{_C4_FIXED_SQL}]
               || (CASE WHEN doc_id % 7 = 0 THEN ['{_C4_LOREM}']
                        ELSE CAST([] AS VARCHAR[]) END)
               || (CASE WHEN doc_id % 11 = 0 THEN ['{_C4_CURLY}']
                        ELSE CAST([] AS VARCHAR[]) END),
               chr(10)) AS text
      FROM documents),
    l AS (
      SELECT doc_id, text,
             string_split(text, chr(10)) AS rawlines,
             list_filter(
               list_transform(string_split(text, chr(10)),
                              x -> regexp_replace(x, '^\\s+|\\s+$', '', 'g')),
               t -> regexp_matches(t, '[.!?"]$')
                    AND NOT ends_with(t, '...')
                    AND len(list_filter(regexp_split_to_array(t, '\\s+'),
                                        w -> w <> '')) >= 5
                    AND NOT ({_C4_PHRASE_SQL})
             ) AS kept
      FROM planted),
    k AS (
      SELECT doc_id,
             CAST(len(rawlines) AS INT) AS n_lines,
             CAST(len(kept) AS INT) AS n_lines_kept,
             CAST(len(regexp_extract_all(
                 coalesce(array_to_string(kept, chr(10)), ''),
                 '[.!?]')) AS INT) AS n_sentences,
             contains(lower(text), 'lorem ipsum') AS has_lorem,
             contains(text, '{{') AS has_curly,
             -- duckdb: array_to_string([]) is NULL; spark array_join is ''
             coalesce(array_to_string(kept, chr(10)), '') AS kept_text
      FROM l)
    SELECT doc_id, n_lines, n_lines_kept, n_sentences, has_lorem, has_curly,
           (NOT has_lorem AND NOT has_curly AND n_sentences >= 5) AS keep,
           kept_text
    FROM k
"""


def _rw_removed_sql(t: str) -> str:
    """DuckDB predicate: RefinedWeb removes the trimmed line ``t`` —
    GENERATED from the same RW_* constants functions/text.py reads
    (micro-int uppercase threshold, numeric/counter/one-word regexes),
    so the operator and the oracle cannot drift."""
    from entitymatchingmodel_spark.functions.text import (
        RW_COUNTER_WORDS,
        RW_MAX_UPPER_FRAC,
        RW_NUMERIC_RE,
        _rw_counter_re,
    )

    thr = int(round(RW_MAX_UPPER_FRAC * 1_000_000))
    alpha = f"length(regexp_replace({t}, '[^\\p{{L}}]', '', 'g'))"
    upper = f"length(regexp_replace({t}, '[^\\p{{Lu}}]', '', 'g'))"
    counter = _rw_counter_re(RW_COUNTER_WORDS)
    return (
        f"length({t}) > 0 AND ("
        f"({alpha} > 0 AND {upper} * 1000000 > {thr} * {alpha})"
        f" OR regexp_matches({t}, '{RW_NUMERIC_RE}')"
        f" OR regexp_matches(lower({t}), '{counter}')"
        f" OR regexp_matches({t}, '^\\S+$'))"
    )


# refinedweb_lines: replay the plant from the _RW_* constants, then the
# line-removal rules + the 5%-of-chars document verdict — all integer
# comparisons (micro-unit thresholds), no float division on either side.
_ORACLE["refinedweb_lines"] = f"""
    WITH planted AS (
      SELECT doc_id,
             array_to_string(
               [text || '.']
               || (CASE WHEN doc_id % 2 = 0 THEN ['{_RW_CAPS}']
                        ELSE CAST([] AS VARCHAR[]) END)
               || [CAST(doc_id % 1000 AS VARCHAR)]
               || [CAST(doc_id % 50 AS VARCHAR) || ' likes']
               || (CASE WHEN doc_id % 3 = 0 THEN ['{_RW_WORD}']
                        ELSE CAST([] AS VARCHAR[]) END),
               chr(10)) AS text
      FROM documents),
    l AS (
      SELECT doc_id,
             string_split(text, chr(10)) AS rawlines,
             list_transform(
               list_filter(
                 list_transform(string_split(text, chr(10)),
                   x -> struct_pack(raw := x,
                          t := regexp_replace(x, '^\\s+|\\s+$', '', 'g'))),
                 s -> NOT ({_rw_removed_sql('s.t')})),
               s -> s.raw) AS kept
      FROM planted),
    k AS (
      SELECT doc_id,
             CAST(len(rawlines) AS INT) AS n_lines,
             CAST(len(rawlines) - len(kept) AS INT) AS n_lines_removed,
             coalesce(list_aggregate(list_transform(rawlines,
                 x -> CAST(length(x) AS BIGINT)), 'sum'), 0) AS n_chars,
             coalesce(list_aggregate(list_transform(kept,
                 x -> CAST(length(x) AS BIGINT)), 'sum'), 0) AS n_chars_kept,
             coalesce(array_to_string(kept, chr(10)), '') AS cleaned_text
      FROM l)
    SELECT doc_id, n_lines, n_lines_removed,
           -- duckdb's list_aggregate('sum') comes back DOUBLE; pin the
           -- operator's long type so the driver's dtype-sensitive
           -- compare sees identical columns
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(n_chars - n_chars_kept AS BIGINT) AS n_chars_removed,
           ((n_chars - n_chars_kept) * 1000000
            <= {int(round(_RW_FRAC * 1_000_000))} * n_chars) AS keep,
           cleaned_text
    FROM k
"""

# incremental_dedup: NOT EXISTS (not NOT IN) to match left-anti
# NULL-key semantics — a NULL content hash never matches, so the row
# is KEPT on both engines.
_ORACLE["incremental_dedup"] = """
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    WHERE NOT EXISTS (
      SELECT 1 FROM documents s
      WHERE s.doc_id % 3 = 0
        AND md5(trim(lower(s.text))) = md5(trim(lower(d.text))))
"""

# dsir_resample = the dsir_scores pipeline + the deterministic Gumbel
# top-k: u = md5-unit-hash(seed-salted id) clamped to >= 1e-12, key =
# score/temperature - ln(-ln(u)), top _DSIR_K by (key DESC, doc_id ASC).
# ln() gaps between adjacent order statistics (~1e-2 at this corpus size)
# dwarf any last-ulp libm difference, so the selected set is engine-exact.
_ORACLE["dsir_resample"] = f"""
    WITH tok AS (SELECT doc_id, lang,
            list_filter(regexp_split_to_array(lower(coalesce(text, '')),
                        '[^a-z0-9]+'), x -> x <> '') AS toks
          FROM documents),
    grams AS (
      SELECT doc_id, lang, unnest(toks) AS g FROM tok
      UNION ALL
      SELECT doc_id, lang,
             unnest(list_transform(generate_series(1, len(toks) - 1),
                                   i -> toks[i] || ' ' || toks[i+1]))
      FROM tok WHERE len(toks) >= 2
    ),
    b AS (SELECT doc_id, lang,
                 CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)
                   % {_DSIR_BUCKETS} AS bucket
          FROM grams),
    ct AS (SELECT bucket, count(*) AS c_target FROM b
           WHERE lang = 'en' GROUP BY 1),
    cr AS (SELECT bucket, count(*) AS c_raw FROM b GROUP BY 1),
    j AS (SELECT coalesce(ct.bucket, cr.bucket) AS bucket,
                 coalesce(c_target, 0) AS c_target,
                 coalesce(c_raw, 0) AS c_raw
          FROM ct FULL OUTER JOIN cr USING (bucket)),
    tot AS (SELECT sum(c_target) AS t_target, sum(c_raw) AS t_raw FROM j),
    r AS (SELECT bucket,
                 CAST(round((ln((c_target + {_DSIR_ALPHA})
                               / (t_target + {_DSIR_ALPHA * _DSIR_BUCKETS}))
                           - ln((c_raw + {_DSIR_ALPHA})
                               / (t_raw + {_DSIR_ALPHA * _DSIR_BUCKETS})))
                            * 1e6) AS BIGINT) AS lr_micro
          FROM j, tot),
    s AS (SELECT b.doc_id,
                 CAST(count(bucket) AS INT) AS n_grams,
                 round(sum(r.lr_micro) / 1e6, 6) AS dsir_logratio
          FROM b LEFT JOIN r USING (bucket) GROUP BY 1),
    keyed AS (SELECT doc_id, n_grams, dsir_logratio,
                 dsir_logratio / 1.0
                   - ln(-ln(greatest(
                       CAST(('0x' || substr(md5('dsir{_DSIR_SEED}|'
                               || CAST(doc_id AS VARCHAR)), 1, 7))
                            AS BIGINT) / 268435456.0,
                       1e-12))) AS gkey
          FROM s WHERE dsir_logratio IS NOT NULL)
    SELECT doc_id, n_grams, dsir_logratio
    FROM keyed
    ORDER BY gkey DESC, doc_id ASC
    LIMIT {_DSIR_K}
"""

# generated from the _PQ_* constants: codebook = 16-dim subvectors of the
# _PQ_K smallest vec_ids; encode = argmin L2 (9dp-rounded, code-asc
# tie-break — the same rule the Spark assign uses); ADC contributions are
# integer micro-units so scores/ranks are order-free.  64-dim embeddings.
_PQ_DSUB = 64 // _PQ_M
_ORACLE["pq_topk"] = f"""
    WITH emb AS (SELECT vec_id,
                        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
    subs AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS sub_id),
    seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, v
              FROM emb ORDER BY vec_id LIMIT {_PQ_K}),
    cb AS (SELECT s.sub_id, code,
                  v[s.sub_id*{_PQ_DSUB}+1 : s.sub_id*{_PQ_DSUB}+{_PQ_DSUB}] AS centroid
           FROM seeds, subs s),
    sv AS (SELECT vec_id, s.sub_id,
                  v[s.sub_id*{_PQ_DSUB}+1 : s.sub_id*{_PQ_DSUB}+{_PQ_DSUB}] AS sv
           FROM emb, subs s),
    assign AS (
      SELECT vec_id, sub_id, code FROM (
        SELECT vec_id, sub_id, code,
               row_number() OVER (PARTITION BY vec_id, sub_id
                 ORDER BY round(list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
                            i -> (sv[i]-centroid[i])*(sv[i]-centroid[i]))), 9) ASC,
                          code ASC) AS rn
        FROM sv JOIN cb USING (sub_id)) WHERE rn = 1),
    qsv AS (SELECT vec_id AS qid, sub_id, sv FROM sv
            WHERE vec_id IN (SELECT vec_id FROM emb ORDER BY vec_id LIMIT {_PQ_NQ})),
    dt AS (SELECT qid, sub_id, code,
                  CAST(round(list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
                             i -> sv[i]*centroid[i])) * 1e6) AS BIGINT) AS c_micro
           FROM qsv JOIN cb USING (sub_id)),
    sc AS (SELECT qid, vec_id, sum(c_micro) AS s_micro
           FROM assign JOIN dt USING (sub_id, code) GROUP BY qid, vec_id),
    r AS (SELECT qid, vec_id, round(s_micro/1e6, 6) AS score,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY s_micro DESC, vec_id ASC) AS rank
          FROM sc)
    SELECT qid, vec_id, score, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= {_PQ_TOPK}
"""


# generated from the _IPQ_*/_PQ_* constants: the ivf_topk oracle's
# centroid/assign/probe CTEs (seed 'ivf42', round-before-rank at 6dp)
# composed with the pq_topk oracle's codebook/encode/ADC CTEs, both on
# UNIT vectors; candidate set = probed buckets, scores = integer
# micro-unit sums (order-free)
# Parameterized over the final top-k so the refined row can reuse the
# WHOLE composition as its shortlist subquery ({{k}} survives the
# f-string as a .format placeholder).
_IVF_PQ_SQL_TMPL = f"""
    WITH eu AS (SELECT vec_id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings),
    un AS (SELECT vec_id,
                  list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vu
           FROM eu WHERE list_dot_product(v, v) > 0),
    ch AS (SELECT vec_id, CAST(concat('0x', substring(md5(concat_ws('|', 'ivf42',
             CAST(vec_id AS VARCHAR))), 1, 7)) AS BIGINT) AS h
           FROM eu),
    cr AS (SELECT vec_id, row_number() OVER (ORDER BY h, vec_id) AS rn FROM ch),
    cent AS (SELECT cr.rn - 1 AS cent_id, u.vu AS cu
             FROM cr JOIN un u USING (vec_id) WHERE cr.rn <= {_IPQ_NLIST}),
    assign AS (
      SELECT nn_id, cent_id FROM (
        SELECT u.vec_id AS nn_id, c.cent_id,
               row_number() OVER (PARTITION BY u.vec_id
                 ORDER BY round(list_dot_product(u.vu, c.cu), 6) DESC, c.cent_id) AS r
        FROM un u CROSS JOIN cent c) WHERE r = 1),
    probe AS (
      SELECT qid, cent_id FROM (
        SELECT u.vec_id AS qid, c.cent_id,
               row_number() OVER (PARTITION BY u.vec_id
                 ORDER BY round(list_dot_product(u.vu, c.cu), 6) DESC, c.cent_id) AS r
        FROM un u CROSS JOIN cent c WHERE u.vec_id < 20) WHERE r <= {_IPQ_NPROBE}),
    subs AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS sub_id),
    seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, vu
              FROM un ORDER BY vec_id LIMIT {_PQ_K}),
    cb AS (SELECT s.sub_id, code,
                  vu[s.sub_id*{_PQ_DSUB}+1 : s.sub_id*{_PQ_DSUB}+{_PQ_DSUB}] AS centroid
           FROM seeds, subs s),
    sv AS (SELECT vec_id, s.sub_id,
                  vu[s.sub_id*{_PQ_DSUB}+1 : s.sub_id*{_PQ_DSUB}+{_PQ_DSUB}] AS sv
           FROM un, subs s),
    codes AS (
      SELECT vec_id, sub_id, code FROM (
        SELECT vec_id, sub_id, code,
               row_number() OVER (PARTITION BY vec_id, sub_id
                 ORDER BY round(list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
                            i -> (sv[i]-centroid[i])*(sv[i]-centroid[i]))), 9) ASC,
                          code ASC) AS rn
        FROM sv JOIN cb USING (sub_id)) WHERE rn = 1),
    qsv AS (SELECT vec_id AS qid, sub_id, sv FROM sv WHERE vec_id < 20),
    dt AS (SELECT qid, sub_id, code,
                  CAST(round(list_sum(list_transform(range(1, {_PQ_DSUB + 1}),
                             i -> sv[i]*centroid[i])) * 1e6) AS BIGINT) AS c_micro
           FROM qsv JOIN cb USING (sub_id)),
    cand AS (SELECT p.qid, a.nn_id FROM probe p JOIN assign a USING (cent_id)),
    sc AS (SELECT c.qid, c.nn_id, sum(dt.c_micro) AS s_micro
           FROM cand c
           JOIN codes k ON k.vec_id = c.nn_id
           JOIN dt ON dt.qid = c.qid AND dt.sub_id = k.sub_id
                  AND dt.code = k.code
           GROUP BY 1, 2),
    r AS (SELECT qid, nn_id, round(s_micro/1e6, 6) AS score,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY s_micro DESC, nn_id ASC) AS rank
          FROM sc)
    SELECT qid, nn_id, score, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= {{k}}
"""
_ORACLE["ivf_pq_topk"] = _IVF_PQ_SQL_TMPL.format(k=_PQ_TOPK)

# ivf_pq_refined: the full IVF-PQ composition above produces a 3x
# shortlist, then ONLY the shortlisted (qid, nn_id) pairs are re-scored
# with the EXACT unit cosine (list_dot_product over the same unit
# vectors, micro-rounded — the same ordering rule the Spark refine
# uses), final top-k per query.
_ORACLE["ivf_pq_refined"] = f"""
    WITH cand AS ({_IVF_PQ_SQL_TMPL.format(k=_IPQR_SHORTLIST)}
    ),
    eu2 AS (SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
    un2 AS (SELECT vec_id,
                   list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vu
            FROM eu2 WHERE list_dot_product(v, v) > 0),
    ex AS (SELECT c.qid, c.nn_id,
                  CAST(round(list_dot_product(q.vu, d.vu) * 1e6) AS BIGINT)
                      AS e_micro
           FROM cand c
           JOIN un2 q ON q.vec_id = c.qid
           JOIN un2 d ON d.vec_id = c.nn_id),
    rr AS (SELECT qid, nn_id, round(e_micro/1e6, 6) AS score,
                  row_number() OVER (PARTITION BY qid
                                     ORDER BY e_micro DESC, nn_id ASC) AS rank
           FROM ex)
    SELECT qid, nn_id, score, CAST(rank AS INT) AS rank
    FROM rr WHERE rank <= {_PQ_TOPK}
"""


def oracle_sql() -> dict[str, str]:
    out = dict(_ORACLE)
    # the two scorer SHAPES (Arrow numpy kernel, which lang_id also runs,
    # and broadcast-join) are pinned equal by sharing ONE oracle
    out["lang_id_joined"] = out["lang_id"]
    out["lang_id_kernel"] = out["lang_id"]
    # the bloom prefilter is exact by construction (confirm anti-join
    # eliminates false positives): same oracle as the plain anti-join
    out["bloom_incremental_dedup"] = out["incremental_dedup"]
    return out
