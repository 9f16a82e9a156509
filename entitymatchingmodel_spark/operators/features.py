"""Name-pair features for the supervised layer — native Column expressions.

Reference computes these in pandas with rapidfuzz/cleanco inside a grouped
pandas UDF (emm/features/pandas_feature_extractor.py:91-148, features_name.py:
97-141, features_rank.py:31-97).  Here every feature except the four string
similarities is a JVM-side expression (levenshtein, array ops, windows); the
four share one pandas UDF with one per-batch memo.

Feature parity map (ref features_name.py):
  norm_ed        <- 1 - levenshtein/maxlen          (native levenshtein)
  token_sort     <- norm_ed over space-joined sorted tokens
  token_set      <- Jaccard over token sets         (array_intersect/union)
  partial        <- prefix containment ratio (name_cut analog)
  abbr_match     <- initials-of-one == other        (ref abbreviation_util)
  abs_len_diff, len_ratio                            (native)
  jaro_winkler / ratio / partial_ratio / w_ratio <- ONE pandas UDF
                    (no native equivalent; rapidfuzz-parity indel
                    similarity via bit-parallel LCS; ratios 0..100 scale)

Rank features (ref features_rank.py:31-97): score rounded to 5 decimals FIRST
(ref rounds before ranking, features_rank.py:27-31), then rank / dist_to_max /
dist_to_min / ptp / diff_to_next / diff_to_prev via one window spec.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StructField, StructType

from entitymatchingmodel_spark.functions.tokenize import word_tokens


def _toks(c: Column) -> Column:
    return word_tokens(F.lower(c))


def norm_ed(a: Column, b: Column) -> Column:
    ml = F.greatest(F.length(a), F.length(b))
    return F.when(ml == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b) / ml.cast("double")
    )


def token_sort_ratio(a: Column, b: Column) -> Column:
    sa = F.array_join(F.array_sort(_toks(a)), " ")
    sb = F.array_join(F.array_sort(_toks(b)), " ")
    return norm_ed(sa, sb)


def token_set_ratio(a: Column, b: Column) -> Column:
    ta, tb = F.array_distinct(_toks(a)), F.array_distinct(_toks(b))
    inter = F.size(F.array_intersect(ta, tb))
    union = F.size(ta) + F.size(tb) - inter
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union.cast("double"))


def name_cut(a: Column, b: Column) -> Column:
    """1 if one string is a prefix of the other (ref name_cut feature)."""
    return (a.startswith(b) | b.startswith(a)).cast("double")


def abbr_match(a: Column, b: Column) -> Column:
    """1 if one name equals the initials of the other ('kfc' vs
    'kentucky fried chicken')."""
    def initials(c: Column) -> Column:
        return F.array_join(F.transform(_toks(c), lambda t: F.substring(t, 1, 1)), "")

    la, lb = F.lower(a), F.lower(b)
    na = F.regexp_replace(la, "\\s", "")
    nb = F.regexp_replace(lb, "\\s", "")
    return ((initials(lb) == na) | (initials(la) == nb)).cast("double")


def abs_len_diff(a: Column, b: Column) -> Column:
    return F.abs(F.length(a) - F.length(b)).cast("double")


def len_ratio(a: Column, b: Column) -> Column:
    return F.least(F.length(a), F.length(b)) / F.greatest(
        F.length(a), F.length(b), F.lit(1)
    ).cast("double")


def _jaro_winkler_py(s1: str, s2: str) -> float:
    """Plain-Python Jaro-Winkler (public algorithm; no external deps)."""
    if s1 == s2:
        return 1.0
    if not s1 or not s2:
        return 0.0
    l1, l2 = len(s1), len(s2)
    match_dist = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, ch in enumerate(s1):
        lo, hi = max(0, i - match_dist), min(l2, i + match_dist + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == ch:
                m1[i] = m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    jaro = (matches / l1 + matches / l2 + (matches - t) / matches) / 3
    prefix = 0
    for a, b in zip(s1, s2):
        if a == b and prefix < 4:
            prefix += 1
        else:
            break
    return jaro + prefix * 0.1 * (1 - jaro)


# ---------------------------------------------------------------------------
# rapidfuzz-parity ratios (ref features_name.py:97-141 wires fuzz.ratio,
# fuzz.partial_ratio, fuzz.WRatio into pandas_feature_extractor.py:97-99).
# Pure-Python reimplementation of the public algorithms — indel similarity
# via bit-parallel LCS (Allison-Dix), fuzzywuzzy/rapidfuzz WRatio weighting.
# Scale 0..100 like the reference columns.
# ---------------------------------------------------------------------------

def _lcs_len(s1: str, s2: str) -> int:
    """Bit-parallel LCS length (Allison-Dix); O(len2) bigint ops."""
    m = len(s1)
    if m == 0 or not s2:
        return 0
    mask = (1 << m) - 1
    match: dict[str, int] = {}
    for k, ch in enumerate(s1):
        match[ch] = match.get(ch, 0) | (1 << k)
    v = mask
    mg = match.get
    for ch in s2:
        u = v & mg(ch, 0)
        v = ((v + u) | (v - u)) & mask
    return m - v.bit_count()


def _indel_ratio(s1: str, s2: str) -> float:
    """fuzz.ratio: normalized indel similarity, 0..100."""
    total = len(s1) + len(s2)
    if total == 0:
        return 100.0
    return 200.0 * _lcs_len(s1, s2) / total


def _partial_ratio_bruteforce(s1: str, s2: str) -> float:
    """Reference formulation of partial_ratio: best indel ratio of the
    shorter string vs EVERY alignment window of the longer (windows may
    hang off either end).  Kept as the parity witness for the pruned
    implementation below (tests/test_fuzz_features.py)."""
    if len(s1) > len(s2):
        s1, s2 = s2, s1
    m, n = len(s1), len(s2)
    if m == 0:
        return 100.0 if n == 0 else 0.0
    best = 0.0
    for off in range(1 - m, n):
        w = s2[max(0, off): off + m]
        r = _indel_ratio(s1, w)
        if r > best:
            best = r
            if best == 100.0:
                break
    return best


def _partial_ratio_py(s1: str, s2: str) -> float:
    """fuzz.partial_ratio — same value as ``_partial_ratio_bruteforce`` for
    every input (the result is a max over windows, so evaluation order and
    skipped can't-win windows don't affect it), computed with two exact
    prunes (r11, guide §1.2-step-2 per-task work):

    - the s1 character bitmasks are built ONCE instead of per window
      (the brute force re-derived them inside every ``_indel_ratio`` call);
    - each window's ratio is bounded above by
      ``200*min(m, |w|, multiset_common(s1, w))/(m+|w|)`` where the
      multiset-intersection size is maintained incrementally as the window
      slides (O(1) per offset); windows are evaluated in descending-bound
      order and the scan stops when the bound can no longer exceed the
      running best — LCS(s1, w) never exceeds any of those three caps, so
      no skipped window could have raised the max.
    """
    if len(s1) > len(s2):
        s1, s2 = s2, s1
    m, n = len(s1), len(s2)
    if m == 0:
        return 100.0 if n == 0 else 0.0
    # substring fast path (C-speed): an occurrence of s1 in s2 is a window
    # with indel ratio exactly 200*m/(m+m) = 100.0, and no window can
    # exceed 100 — so the max is 100.0 without scanning any window.
    if s1 in s2:
        return 100.0
    # s1 masks + multiset counts, once
    full = (1 << m) - 1
    match: dict[str, int] = {}
    c1: dict[str, int] = {}
    for k, ch in enumerate(s1):
        match[ch] = match.get(ch, 0) | (1 << k)
        c1[ch] = c1.get(ch, 0) + 1
    # one slide over all offsets: window for off is s2[max(0,off) : off+m);
    # entering char index off+m-1 (when < n), leaving char index off-1
    # (when >= 0).  Record (upper bound, lo, hi) per offset.
    cw: dict[str, int] = {}
    common = 0
    cands: list[tuple[float, int, int]] = []
    for off in range(1 - m, n):
        if off == 1 - m:
            ch = s2[0]
            if cw.get(ch, 0) < c1.get(ch, 0):
                common += 1
            cw[ch] = cw.get(ch, 0) + 1
        else:
            ent = off + m - 1
            if ent < n:
                ch = s2[ent]
                if cw.get(ch, 0) < c1.get(ch, 0):
                    common += 1
                cw[ch] = cw.get(ch, 0) + 1
            if off - 1 >= 0:
                ch = s2[off - 1]
                cw[ch] -= 1
                if cw[ch] < c1.get(ch, 0):
                    common -= 1
        lo, hi = max(0, off), min(n, off + m)
        wl = hi - lo
        cap = common if common < wl else wl
        if cap > m:
            cap = m
        cands.append((200.0 * cap / (m + wl), lo, hi))
    # descending-bound order (plain tuple sort; tie order among equal
    # bounds is irrelevant — the result is a max)
    cands.sort(reverse=True)
    best = 0.0
    mg = match.get
    for bound, lo, hi in cands:
        if bound <= best:
            break
        # exact same float expression as _indel_ratio(s1, w): the LCS uses
        # the precomputed masks instead of rebuilding them per window.
        v = full
        for ch in s2[lo:hi]:
            u = v & mg(ch, 0)
            v = ((v + u) | (v - u)) & full
        lcs = m - v.bit_count()
        r = 200.0 * lcs / (m + (hi - lo))
        if r > best:
            best = r
            if best == 100.0:
                break
    return best


def _token_strings(s1: str, s2: str):
    """(sorted-join1, sorted-join2, sect, combined1, combined2) for the
    token_sort / token_set formulations (whitespace tokens; inputs are
    preprocessed names, already lowercased)."""
    t1, t2 = s1.split(), s2.split()
    sa, sb = " ".join(sorted(t1)), " ".join(sorted(t2))
    x1, x2 = set(t1), set(t2)
    sect = " ".join(sorted(x1 & x2))
    d1 = " ".join(sorted(x1 - x2))
    d2 = " ".join(sorted(x2 - x1))
    c1 = sect if not d1 else (d1 if not sect else sect + " " + d1)
    c2 = sect if not d2 else (d2 if not sect else sect + " " + d2)
    return sa, sb, sect, c1, c2


def _wratio_py(
    s1: str, s2: str, _end: float | None = None, _p: float | None = None
) -> float:
    """fuzz.WRatio: weighted max of full / token-sort / token-set ratios,
    switching to partial variants for length-mismatched strings (public
    fuzzywuzzy/rapidfuzz weighting: 0.95 token scale, 0.9/0.6 partial).

    ``_end`` / ``_p`` optionally hand in an already-computed
    ``_indel_ratio(s1, s2)`` / ``_partial_ratio_py(s1, s2)`` — the batch
    kernel computes both for its own output columns, so WRatio reuses the
    identical floats instead of re-deriving them (r11, guide §1.2-step-2)."""
    if not s1 or not s2:
        return 0.0
    l1, l2 = len(s1), len(s2)
    lr = max(l1, l2) / min(l1, l2)
    end = _indel_ratio(s1, s2) if _end is None else _end
    sa, sb, sect, c1, c2 = _token_strings(s1, s2)
    if lr < 1.5:
        # ``sect`` is a prefix (hence subsequence) of both combined
        # strings by construction (c = sect [+ " " + diff]), so
        # LCS(sect, cX) == len(sect) exactly and the two sect-vs-combined
        # ratios close to 200*ls/(ls+lcX) with no LCS scan (the
        # ls+lcX == 0 arm keeps _indel_ratio's empty-vs-empty 100.0).
        ls, lc1, lc2 = len(sect), len(c1), len(c2)
        t1 = 100.0 if ls + lc1 == 0 else 200.0 * ls / (ls + lc1)
        t2 = 100.0 if ls + lc2 == 0 else 200.0 * ls / (ls + lc2)
        tset = t1 if t1 >= t2 else t2
        if tset < 100.0:
            r12 = _indel_ratio(c1, c2)
            if r12 > tset:
                tset = r12
        if tset >= 100.0:
            # ts = indel(sa, sb) <= 100 can't raise max(ts, tset).
            return max(end, 95.0)
        ts = _indel_ratio(sa, sb)
        return max(end, (ts if ts > tset else tset) * 0.95)
    ps = 0.9 if lr < 8 else 0.6
    p = _partial_ratio_py(s1, s2) if _p is None else _p
    # Same prefix argument: for non-empty sect the window at offset 0 of
    # partial_ratio(sect, cX) is sect itself, so ptset is exactly 100.0
    # without evaluating any of the three pairs.  (The empty-sect arm
    # keeps partial_ratio's empty-side convention: 100.0 only when the
    # other side is empty too.)
    if sect:
        ptset = 100.0
    else:
        ptset = max(
            100.0 if not c1 else 0.0,
            100.0 if not c2 else 0.0,
            _partial_ratio_py(c1, c2),
        )
    if ptset >= 100.0:
        # pts = partial_ratio(sa, sb) <= 100 can't raise max(pts, ptset);
        # skip its whole window scan.
        pmax = 100.0
    else:
        pts = _partial_ratio_py(sa, sb)
        pmax = pts if pts > ptset else ptset
    return max(end, p * ps, pmax * 0.95 * ps)


# ---------------------------------------------------------------------------
# Optional rapidfuzz fast path.  The reference takes exactly these ratios
# from C++ rapidfuzz (features_name.py:97-141 via pandas_feature_extractor
# .py:91-103); the pure-Python implementations above are the always-present
# parity fallback.  rapidfuzz is enabled ONLY if the installed version
# reproduces the pure-Python values on an embedded self-check corpus
# covering every WRatio branch — parity is VERIFIED at import, not assumed,
# so a rapidfuzz behavior change degrades to the (slower, exact) fallback
# instead of silently breaking oracle exactness.  Same optional-import
# pattern as unidecode in functions/preprocessing.py:90-104.
# ---------------------------------------------------------------------------

_SELF_CHECK_PAIRS = [
    ("", ""), ("", "abc"), ("abc", "abc"),
    ("kitten", "sitting"), ("acme holdings bv", "holdings acme b v"),
    ("new york mets", "new york meats"),          # lr < 1.5 token branch
    ("abc", "abc def ghi jk"),                    # 1.5 <= lr < 8 partial
    ("ab", "the quick brown fox jumps over it"),  # lr >= 8 branch
    ("dixon", "dicksonx"), ("martha", "marhta"),  # jaro transposition/prefix
    ("café münchen", "cafe munchen"),             # non-ascii
]


def _load_rapidfuzz():
    try:
        from rapidfuzz import fuzz
        from rapidfuzz.distance import JaroWinkler
    except Exception:
        return None
    try:
        for s1, s2 in _SELF_CHECK_PAIRS:
            ok = (
                abs(fuzz.ratio(s1, s2) - _indel_ratio(s1, s2)) < 1e-9
                and abs(fuzz.partial_ratio(s1, s2) - _partial_ratio_py(s1, s2)) < 1e-9
                and abs(fuzz.WRatio(s1, s2) - _wratio_py(s1, s2)) < 1e-9
                and abs(JaroWinkler.similarity(s1, s2) - _jaro_winkler_py(s1, s2)) < 1e-9
            )
            if not ok:
                return None
    except Exception:
        return None
    return fuzz, JaroWinkler


_RAPIDFUZZ = _load_rapidfuzz()


_STRING_SIM_SCHEMA = StructType(
    [
        StructField("jaro", DoubleType()),
        StructField("ratio", DoubleType()),
        StructField("partial_ratio", DoubleType()),
        StructField("wratio", DoubleType()),
    ]
)


@pandas_udf(_STRING_SIM_SCHEMA)
def string_sims_udf(a: pd.Series, b: pd.Series) -> pd.DataFrame:
    """Jaro-Winkler plus the three rapidfuzz-parity ratios in one pass over
    the batch.  Memoized per batch: candidate pairs repeat name pairs
    heavily (one GT name against many query rows and vice versa)."""
    if _RAPIDFUZZ is not None:
        fz, jw = _RAPIDFUZZ

        def compute(x: str, y: str) -> tuple[float, float, float, float]:
            return (jw.similarity(x, y), fz.ratio(x, y),
                    fz.partial_ratio(x, y), fz.WRatio(x, y))
    else:

        def compute(x: str, y: str) -> tuple[float, float, float, float]:
            # ratio and partial_ratio are output columns anyway; WRatio
            # reuses the same floats instead of re-deriving them.
            e = _indel_ratio(x, y)
            p = _partial_ratio_py(x, y)
            return (_jaro_winkler_py(x, y), e, p,
                    _wratio_py(x, y, _end=e, _p=p))
    memo: dict[tuple[str, str], tuple[float, float, float, float]] = {}
    rows = []
    for x, y in zip(a.fillna(""), b.fillna("")):
        k = (x, y)
        r = memo.get(k)
        if r is None:
            r = memo[k] = compute(x, y)
        rows.append(r)
    return pd.DataFrame(rows, columns=["jaro", "ratio", "partial_ratio", "wratio"])


PAIR_FEATURES = [
    "f_norm_ed", "f_token_sort", "f_token_set", "f_name_cut",
    "f_abbr_match", "f_abs_len_diff", "f_len_ratio", "f_jaro",
    "f_ratio", "f_partial_ratio", "f_wratio",
]


def pair_features(
    df: DataFrame,
    name_col: str = "preprocessed",
    gt_name_col: str = "gt_preprocessed",
    decimals: int | None = 6,
) -> DataFrame:
    """Append the f_* pair-feature columns (11-feature parity with the
    reference's name-feature set, pandas_feature_extractor.py:91-103)."""
    a, b = F.col(name_col), F.col(gt_name_col)

    def r(c: Column) -> Column:
        return F.round(c, decimals) if decimals is not None else c

    return (
        df.withColumn("f_norm_ed", r(norm_ed(a, b)))
        .withColumn("f_token_sort", r(token_sort_ratio(a, b)))
        .withColumn("f_token_set", r(token_set_ratio(a, b)))
        .withColumn("f_name_cut", name_cut(a, b))
        .withColumn("f_abbr_match", abbr_match(a, b))
        .withColumn("f_abs_len_diff", abs_len_diff(a, b))
        .withColumn("f_len_ratio", r(len_ratio(a, b)))
        .withColumn("_fz", string_sims_udf(a, b))
        .withColumn("f_jaro", r(F.col("_fz.jaro")))
        .withColumn("f_ratio", r(F.col("_fz.ratio")))
        .withColumn("f_partial_ratio", r(F.col("_fz.partial_ratio")))
        .withColumn("f_wratio", r(F.col("_fz.wratio")))
        .drop("_fz")
    )


# ---------------------------------------------------------------------------
# Vocabulary features (ref emm/features/features_vocabulary.py:30-165)
# ---------------------------------------------------------------------------

VOCAB_FEATURES = [
    "f_very_common_hit", "f_common_hit", "f_rare_hit",
    "f_very_common_miss", "f_common_miss", "f_rare_miss",
    "f_n_overlap_words", "f_ratio_overlap_words", "f_num_word_difference",
]

# Reference tokenization for vocabulary features is sklearn's default
# CountVectorizer token_pattern \w\w+ (>=2 word chars), applied to
# already-lowercased preprocessed names.
_VOCAB_TOKEN_RE = r"[a-z0-9_]{2,}"


def _vocab_tokens(c: Column) -> Column:
    return F.array_distinct(F.regexp_extract_all(F.lower(c), F.lit(_VOCAB_TOKEN_RE), 0))


def fit_vocab_tiers(
    df: DataFrame,
    columns: list[str],
    very_common_min_df: float = 0.01,
    common_min_df: float = 0.0001,
) -> DataFrame:
    """Word-frequency tiers (ref features_vocabulary.py:30-99) as a
    DataFrame ``(token, tier)``: tier 2 = very_common, tokens appearing in
    >= ``very_common_min_df`` of the distinct names; tier 1 = common,
    >= ``common_min_df`` and not very_common (disjoint tiers, as the
    reference subtracts).  NO token list is ever collected to the driver
    (only the scalar distinct-name count).  Feed it to
    :func:`vocabulary_features`, which joins it instead of inlining
    literal arrays — the 100 TB path when a small ``common_min_df`` makes
    the tier lists millions of tokens.
    """
    if common_min_df >= very_common_min_df:
        raise ValueError("common_min_df must be smaller than very_common_min_df")
    names = None
    for c in columns:
        part = df.select(F.col(c).alias("_n"))
        names = part if names is None else names.unionAll(part)
    names = names.filter(F.col("_n").isNotNull()).distinct()
    n_docs = names.count()
    tok_df = (
        names.select(F.explode_outer(_vocab_tokens(F.col("_n"))).alias("token"))
        .filter(F.col("token").isNotNull())
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    return tok_df.filter(F.col("df") >= common_min_df * n_docs).select(
        "token",
        F.when(F.col("df") >= very_common_min_df * n_docs, F.lit(2))
        .otherwise(F.lit(1))
        .alias("tier"),
    )


def vocabulary_features(
    df: DataFrame,
    tiers: DataFrame,
    row_keys: list[str],
    name_col: str = "preprocessed",
    gt_name_col: str = "gt_preprocessed",
    decimals: int | None = 6,
    broadcast_tiers: bool = True,
) -> DataFrame:
    """Append the 9 vocabulary hit/miss features.

    hits = tokens present in both names; misses = symmetric difference;
    each split into very-common / common / rare by tier membership.  The
    tier lookup is a JOIN on the ``(token, tier)`` table from
    :func:`fit_vocab_tiers` instead of literal in-plan arrays, so the
    PLAN size is independent of vocabulary size (a literal tier array with
    millions of tokens bloats every serialized task).

    Shape: hits/misses and the three overlap features stay native array
    expressions on the input rows; only the six tier counts go through
    explode -> tier join -> conditional-sum aggregation on ``row_keys`` ->
    one join back — one shuffle pair on ``row_keys``, the right trade at
    100 TB where a min_df of 1e-4 can mean millions of tier tokens.

    ``broadcast_tiers=True`` (default) hints a broadcast hash join —
    note this still materializes the tier table once on the driver inside
    BroadcastExchange, so it is bounded by the broadcast limit, not
    "zero driver memory"; for tier tables too big to broadcast pass
    ``False`` and the lookup runs as a shuffle join on ``token``.

    ``row_keys`` must uniquely identify input rows (e.g. ``[uid, gt_uid]``
    for candidate pairs); the count-rejoin is NULL-SAFE on these keys, so
    no-candidate rows with a NULL ``gt_uid`` survive.  Rows whose token
    arrays are NULL (null names) get NULL tier counts.
    """
    s1 = _vocab_tokens(F.col(name_col))
    s2 = _vocab_tokens(F.col(gt_name_col))
    base = (
        df.withColumn("_hits", F.array_intersect(s1, s2))
        .withColumn("_misses", F.array_except(F.array_union(s1, s2), F.array_intersect(s1, s2)))
        .withColumn("_n1", F.size(s1))
        .withColumn("_n2", F.size(s2))
    )
    tagged = F.concat(
        F.transform("_hits", lambda t: F.struct(t.alias("token"), F.lit(1).alias("is_hit"))),
        F.transform("_misses", lambda t: F.struct(t.alias("token"), F.lit(0).alias("is_hit"))),
    )
    tok = base.select(
        *row_keys, F.explode_outer(tagged).alias("_tk")
    ).select(*row_keys, F.col("_tk.token").alias("token"), F.col("_tk.is_hit").alias("is_hit"))
    j = tok.join(F.broadcast(tiers) if broadcast_tiers else tiers, "token", "left")

    def cnt(hit: int, pref: str) -> list:
        is_side = F.col("is_hit") == hit
        return [
            F.sum(F.when(is_side & (F.col("tier") == 2), 1).otherwise(0))
            .cast("double").alias(f"f_very_common_{pref}"),
            F.sum(F.when(is_side & (F.col("tier") == 1), 1).otherwise(0))
            .cast("double").alias(f"f_common_{pref}"),
            F.sum(
                F.when(is_side & F.col("token").isNotNull() & F.col("tier").isNull(), 1)
                .otherwise(0)
            ).cast("double").alias(f"f_rare_{pref}"),
        ]

    counts = j.groupBy(*row_keys).agg(*cnt(1, "hit"), *cnt(0, "miss"))
    # Null-safe equi-join on the row keys: a plain equi-join would silently
    # drop rows whose key is NULL (e.g. no-candidate rows with NULL gt_uid).
    cond = None
    for k in row_keys:
        c = base[k].eqNullSafe(counts[k])
        cond = c if cond is None else (cond & c)
    out = base.join(counts, cond)
    for k in row_keys:
        out = out.drop(counts[k])

    null_arrays = F.col("_hits").isNull() | F.col("_misses").isNull()
    n_hits = F.size(F.col("_hits"))
    n_total = n_hits + F.size(F.col("_misses"))
    ratio = F.when(n_total == 0, F.lit(None).cast("double")).otherwise(
        n_hits / n_total.cast("double")
    )
    if decimals is not None:
        ratio = F.round(ratio, decimals)
    tier_cols = [
        f"f_{t}_{p}" for p in ("hit", "miss") for t in ("very_common", "common", "rare")
    ]
    return out.select(
        *[c for c in out.columns if c not in ("_hits", "_misses", "_n1", "_n2") and c not in tier_cols],
        *[
            F.when(null_arrays, F.lit(None).cast("double"))
            .otherwise(F.col(c)).alias(c)
            for c in tier_cols
        ],
        n_hits.cast("double").alias("f_n_overlap_words"),
        ratio.alias("f_ratio_overlap_words"),
        F.abs(F.col("_n1") - F.col("_n2")).cast("double").alias("f_num_word_difference"),
    )


# ---------------------------------------------------------------------------
# Extra equality features (ref emm/features/features_extra.py:28-60)
# ---------------------------------------------------------------------------

def extra_equality_feature(df: DataFrame, col: str, gt_col: str | None = None) -> DataFrame:
    """+1 match / -1 mismatch / 0 either-null (ref features_extra.py:51-57)."""
    g = gt_col or f"gt_{col}"
    a, b = F.col(col), F.col(g)
    feat = (
        F.when(a.isNull() | b.isNull(), 0.0)
        .when(a == b, 1.0)
        .otherwise(-1.0)
    )
    return df.withColumn(f"f_{col}_match", feat)


# ---------------------------------------------------------------------------
# Legal-entity-form features (ref emm/features/features_lef.py:160-210)
# ---------------------------------------------------------------------------

# Curated public legal-form term list, replacing the reference's cleanco
# termdata (features_lef.py:28-58).  Includes multi-word forms; terms are
# matched as NAME SUFFIXES (the reference's cleanco default: suffix=True,
# prefix/middle=False, custom_basename_and_lef features_lef.py:61-129),
# longest-first, up to two stacked suffix terms ('acme bv ltd' -> 'bv:ltd').
LEGAL_FORM_TERMS = sorted(
    [
        # multi-word forms (lowercased, punctuation-stripped — the shape
        # these take after this repo's preprocessing pipelines)
        "kabushiki kaisha", "yugen kaisha", "sp z o o", "sp z oo",
        "spolka z ograniczona odpowiedzialnoscia", "spolka akcyjna",
        "pty ltd", "pvt ltd", "co ltd", "co kg", "gmbh co kg",
        "public limited company", "limited liability company",
        "limited liability partnership", "limited partnership",
        "besloten vennootschap", "naamloze vennootschap",
        "societe anonyme", "societe a responsabilite limitee",
        "sociedad anonima", "sociedad limitada", "sa de cv", "s de rl de cv",
        "societa per azioni", "societa a responsabilita limitata",
        "aktiengesellschaft", "kommanditgesellschaft", "aktiebolag",
        "s r o", "d o o", "o o o", "a s", "k s", "s a", "n v", "b v",
        # r4 breadth toward cleanco's terms_by_type coverage (public data):
        "private limited company", "proprietary limited",
        "societe par actions simplifiee", "societe en nom collectif",
        "societe en commandite simple", "societe cooperative",
        "sociedade anonima", "sociedade limitada",
        "sociedad de responsabilidad limitada",
        "societa in accomandita semplice", "societa in nome collettivo",
        "societa cooperativa", "kabushiki gaisha", "godo kaisha",
        "gomei kaisha", "goshi kaisha", "yugen gaisha",
        "kommanditgesellschaft auf aktien",
        "gesellschaft mit beschrankter haftung",
        "eingetragene genossenschaft", "eingetragener verein",
        "vennootschap onder firma", "commanditaire vennootschap",
        "spolka komandytowa", "spolka jawna", "spolka partnerska",
        "sendirian berhad", "joint stock company",
        "open joint stock company", "closed joint stock company",
        "anonim sirketi", "limited sirketi",
        "s p a", "s r l", "s a s", "s a r l", "l l c", "p l c",
        "s c a", "s c s", "s l", "e v", "u a", "a d", "d d",
        # single-token forms
        "bv", "nv", "vof", "cv", "bvba", "gmbh", "ag", "kg", "ug", "ohg",
        "ab", "as", "aps", "oy", "oyj", "sa", "sas", "sarl", "sl", "srl",
        "spa", "sro", "plc", "ltd", "llc", "llp", "lp", "inc", "corp", "co",
        "kk", "pty", "pte", "pvt", "ulc", "se", "eurl", "snc", "kft", "rt",
        "doo", "ad", "ead", "ooo", "pao", "oao", "spol",
        # r4 single-token breadth (cleanco-common forms)
        "limited", "incorporated", "corporation", "company",
        "ltda", "lda", "cia", "cie", "hf", "ehf", "bhd", "sdn", "tbk",
        "kgaa", "mbh", "gesmbh", "sasu", "sca", "scs", "sci", "scop",
        "zrt", "nyrt", "bt", "vzw", "asbl", "cvba", "scrl", "sprl",
        "ivs", "amba", "yk", "gk", "tov", "zao", "pjsc", "ojsc", "cjsc",
        "jsc", "psc", "fze", "fzco", "wll", "gie", "vos", "shpk", "dooel",
        # r5 jurisdiction breadth (public cleanco/GLEIF-style suffix forms):
        # SG/MY, PT/BR, Nordics, Baltics, Greece, ex-Yugoslavia, PL, AT/CH,
        # US professional forms, IE/UK special companies, Gulf states
        "pte ltd", "sdn bhd", "unipessoal lda", "ekonomisk forening",
        "sociedad cooperativa", "s coop", "s en c", "s de rl",
        "spolka komandytowo akcyjna", "designated activity company",
        "community interest company", "unlimited company",
        "societas europaea",
        "asa", "ans", "da", "hb", "kb", "ky", "ay", "osk", "epe", "ike",
        "oe", "ee", "ae", "jdoo", "dd", "ska", "og", "sagl", "pllc", "pc",
        "lllp", "ou", "sia", "uab", "dac", "cic", "ksc", "bsc", "qsc",
        "saog", "saoc", "eirl", "eireli",
        # r6 jurisdiction breadth (public cleanco/GLEIF-style suffix forms):
        # BG, UA, VN, TR, KR, IS, CZ/SK, PT, ES, MX, DE/AT, UK/IE nonprofit,
        # US professional, MY, NO/DK/SE/FI full forms, NL foundations, HU,
        # SI, ZA, BE legacy, CA
        "spol s r o", "akciova spolecnost", "chusik hoesa", "yuhan hoesa",
        "ltd sti", "sab de cv", "sapi de cv", "s l u", "s a u",
        "sp j", "sp k", "kommanditbolag", "handelsbolag", "aktieselskab",
        "anpartsselskab", "aksjeselskap", "osakeyhtio",
        "societe civile immobiliere", "limited liability limited partnership",
        "professional corporation", "general partnership",
        "eood", "ood", "pat", "prat", "tnhh", "slf", "sgps", "crl",
        "sau", "slu", "gbr", "stiftung", "cio", "lc", "pa", "berhad",
        "ba", "kkt", "kd", "npc", "pvba", "ltee", "cooperatie",
        "stichting", "maatschap",
        # r7 jurisdiction breadth (public cleanco/GLEIF-style suffix forms):
        # FR professional/commandite, IT/ES/PT full partnership forms, SK,
        # RO/SI/HR/AL/EE/LV/LT full forms, DK/FI coop+partnership, ZA, TR
        # partnerships, DE stacked KG forms + eG/e.K., BE nonprofit, IE/UK
        # guarantee companies, US professional, JP/NL/PL dotted-form spaced
        # variants, generic English nonprofit/cooperative suffix words
        "societe en commandite par actions", "societe civile professionnelle",
        "societa semplice", "sociedad en comandita", "sociedad colectiva",
        "empresa individual de responsabilidade limitada",
        "drustvo s ogranicenom odgovornoscu",
        "druzba z omejeno odgovornostjo", "delniska druzba",
        "societate cu raspundere limitata", "societate pe actiuni",
        "verejna obchodna spolocnost", "komanditna spolocnost",
        "professional limited liability company", "professional association",
        "registered limited liability partnership",
        "public joint stock company", "private joint stock company",
        "company limited by guarantee", "unlimited liability corporation",
        "societa a responsabilita limitata semplificata",
        "besloten vennootschap met beperkte aansprakelijkheid",
        "societe privee a responsabilite limitee",
        "societe cooperative a responsabilite limitee",
        "shoqeri me pergjegjesi te kufizuar", "shoqeri aksionare",
        "aktsiaselts", "osauhing", "akciju sabiedriba",
        "sabiedriba ar ierobezotu atbildibu", "akcine bendrove",
        "uzdaroji akcine bendrove", "ug haftungsbeschrankt",
        "close corporation", "edms bpk", "incorporated association",
        "kollektif sirketi", "komandit sirketi", "spolka z o o",
        "ag co kg", "se co kg", "ag co kgaa", "se co kgaa", "gmbh co kgaa",
        "osuuskunta", "andelsselskab", "interessentskab",
        "srls", "selas", "selarl", "sce", "eeig", "ewiv", "smba", "sapa",
        "ks", "ry", "slne", "sal", "bpk", "cc", "sha", "ggmbh", "eg", "ek",
        "rllp", "ivzw", "aisbl", "clg", "coop", "co op", "cooperative",
        "association", "foundation", "onlus",
        "e k", "i s", "p s", "c v", "v o f", "a g", "k k", "s c", "s k a",
        "e u", "p c",
        # r7 second tranche (public cleanco/GLEIF-style suffix forms):
        # bare EN limited/public variants, RU/CN transliterated full forms,
        # LatAm SA variants (PE/VE/MX), IT accomandita per azioni full, FR
        # professional SELARL full, DE Partnerschaftsgesellschaft (+mbB),
        # FI full oyj/partnership, TH/HK 'company limited', Gulf single-
        # person/Kuwaiti closed forms, NO foreign-branch NUF
        "private limited", "public limited", "limited company",
        "company limited", "public company limited",
        "obshchestvo s ogranichennoy otvetstvennostyu",
        "aktsionernoye obshchestvo",
        "youxian gongsi", "gufen youxian gongsi",
        "sociedad anonima de capital variable", "compania anonima",
        "sociedad anonima cerrada", "sociedad anonima abierta",
        "societa in accomandita per azioni",
        "societe d exercice liberal a responsabilite limitee",
        "partnerschaftsgesellschaft", "partg mbb",
        "julkinen osakeyhtio", "avoin yhtio",
        "sac", "saa", "sae", "spc", "kscc", "kscp", "nuf", "partg", "c a",
        # r8 jurisdiction breadth (public cleanco/GLEIF-style suffix forms):
        # FR unipersonnelle/civile/participation full forms, LatAm SAS +
        # Spanish-language partnership/EIRL full forms, PT quota companies,
        # FI/NO/SE full public-company and partnership forms, ex-Yugoslav +
        # BG + GR + UA + CZ + HU transliterated full forms, DE OHG/GbR/e.K.
        # full forms + AT small partnerships, NL mutuals, RU additional-
        # liability companies, CN/JP/KR/VN transliterated forms, IN one-
        # person companies, AU no-liability/ILP, UK/IE mutuals, and the
        # spaced single-letter variants of already-covered dotted forms
        "societe par actions simplifiee unipersonnelle",
        "entreprise unipersonnelle a responsabilite limitee",
        "societe en participation", "societe civile",
        "groupement d interet economique", "societe d economie mixte",
        "sociedad por acciones simplificada", "sociedad civil",
        "sociedad en nombre colectivo", "sociedad en comandita por acciones",
        "sociedad en comandita simple",
        "empresa individual de responsabilidad limitada",
        "sociedade unipessoal por quotas", "sociedade por quotas",
        "sociedade em nome coletivo", "societa consortile per azioni",
        "kommandiittiyhtio", "allmennaksjeselskap", "ansvarlig selskap",
        "publikt aktiebolag", "akcionarsko drustvo",
        "drustvo sa ogranicenom odgovornoscu", "komanditno drustvo",
        "aktsionerno druzhestvo", "druzhestvo s ogranichena otgovornost",
        "etaireia periorismenis efthynis", "anonymi etaireia",
        "idiotiki kefalaiouchiki etaireia", "omorrythmos etaireia",
        "eterorrythmos etaireia",
        "tovarystvo z obmezhenoyu vidpovidalnistyu",
        "spolecnost s rucenim omezenym", "verejna obchodni spolecnost",
        "komanditni spolecnost", "korlatolt felelossegu tarsasag",
        "reszvenytarsasag", "beteti tarsasag", "kozkereseti tarsasag",
        "zartkoruen mukodo reszvenytarsasag",
        "nyilvanosan mukodo reszvenytarsasag", "dionicko drustvo",
        "offene handelsgesellschaft", "eingetragener kaufmann",
        "eingetragene kauffrau", "gesellschaft burgerlichen rechts",
        "kommanditaktiengesellschaft", "onderlinge waarborgmaatschappij",
        "obshchestvo s dopolnitelnoy otvetstvennostyu",
        "youxian zeren gongsi", "godo gaisha", "jusik hoesa", "hapja hoesa",
        "hapmyeong hoesa", "cong ty trach nhiem huu han", "cong ty co phan",
        "one person company", "incorporated limited partnership",
        "no liability", "credit union", "building society",
        "ohf", "abp", "plt", "opc", "ctcp", "zat", "vat", "odo", "gesbr",
        "keg", "oeg", "anstalt", "persero", "sccl", "scp", "sep",
        "o u", "a p s", "a b", "o y", "g k", "y k", "e p e", "i k e",
        # r9 jurisdiction breadth (public cleanco/GLEIF-style suffix
        # forms): FR agricultural/investment vehicles (GAEC/EARL full,
        # SCPI/SICAV), ES/PT mutual-guarantee + coop + empresa publica,
        # BE/NL commandite-on-shares + cooperative full forms, DK/NO
        # partnership/IVS/sole-trader full forms, PL/CZ/SK cooperatives +
        # state enterprises, RO partnership full forms, UA public/private
        # JSC transliterated, JP general incorporated associations, KR
        # LLC, IN producer companies, US benefit corporations, UK/NZ
        # mutual societies, Gulf free-zone forms, GR single-member EPE,
        # DE mutual insurers, ex-Yu cooperatives
        "societe civile de placement immobilier",
        "groupement agricole d exploitation en commun",
        "exploitation agricole a responsabilite limitee",
        "societe d investissement a capital variable",
        "societe cooperative de production",
        "sociedad de garantia reciproca",
        "sociedad cooperativa de responsabilidad limitada",
        "sociedad limitada nueva empresa", "sociedade simples",
        "empresa publica", "commanditaire vennootschap op aandelen",
        "cooperatieve vennootschap", "partnerselskab",
        "ivaerksaetterselskab", "kommandittselskap", "enkeltpersonforetak",
        "andelslag", "spoldzielnia", "przedsiebiorstwo panstwowe",
        "druzstvo", "statni podnik", "societate in nume colectiv",
        "societate in comandita simpla",
        "publichne aktsionerne tovarystvo",
        "pryvatne aktsionerne tovarystvo", "ippan shadan hojin",
        "yuhan chaegim hoesa", "producer company", "benefit corporation",
        "public benefit corporation", "industrial and provident society",
        "friendly society", "community benefit society",
        "incorporated society", "free zone establishment",
        "free zone company", "sociedad anonima deportiva",
        "monoprosopi etaireia periorismenis efthynis",
        "sicav", "cva", "esv", "gaec", "scpi", "mepe", "vvag", "zadruga",
        # r9 second tranche (public cleanco/GLEIF-style suffix forms):
        # EU-level vehicles (EEIG/SCE full forms, both languages), DE/CH
        # mutual insurers + sole traders + general partnerships, IT coop
        # arl + mutuo soccorso + consortile abbrevs, MX bursatil/SAPI full
        # forms, SI/HR unlimited + general-partnership full forms, NO
        # foreign-branch + BA full forms, JP LLP, VN partnership/sole
        # proprietor, ID perseroan terbatas, PL mutual insurers, CZ
        # public-benefit + registered associations, IE Irish-language
        # Teoranta, BE commandite abbrevs + single-member BVBA, LU
        # simplified SARL, Gulf free-zone + Qatari public forms, FI
        # foundations
        "societa cooperativa a responsabilita limitata",
        "versicherungsverein auf gegenseitigkeit",
        "europaische wirtschaftliche interessenvereinigung",
        "european economic interest grouping",
        "societas cooperativa europaea",
        "kollektivgesellschaft", "einzelunternehmen",
        "societe en commandite",
        "druzba z neomejeno odgovornostjo", "javno trgovacko drustvo",
        "norsk avdeling av utenlandsk foretak",
        "selskap med begrenset ansvar",
        "yugen sekinin jigyo kumiai",
        "cong ty hop danh", "doanh nghiep tu nhan",
        "perseroan terbatas",
        "towarzystwo ubezpieczen wzajemnych",
        "sociedad anonima bursatil de capital variable",
        "sociedad anonima promotora de inversion de capital variable",
        "obecne prospesna spolecnost", "zapsany spolek",
        "societa di mutuo soccorso",
        "fz llc", "sarl s", "comm v", "z s", "sp p",
        "tuw", "fzc", "qpsc", "saatio", "scarl", "scpa", "sicaf",
        "teo", "teoranta", "gcv", "ebvba",
        # r10 tranche (public cleanco/GLEIF-style suffix forms): FI sole
        # traders, LT small partnerships, SK full public/private forms,
        # GR general partnerships, FR worker/collective-interest coops,
        # CL/ES stock companies, PT single-member + holding SGPS full
        # form, RU full transliterated forms, UK limited-by-shares long
        # form, LU fund vehicles, HU public-benefit companies
        "toiminimi", "mazoji bendrija",
        "akciova spolocnost", "spolocnost s rucenim obmedzenym",
        "omorrythmi etaireia",
        "societe cooperative et participative",
        "sociedad por acciones", "sociedade unipessoal lda",
        "sociedade gestora de participacoes sociais",
        "obshchestvo s ogranichennoi otvetstvennostyu",
        "aktsionernoe obshchestvo", "publichnoe aktsionernoe obshchestvo",
        "private company limited by shares",
        "tmi", "enk", "scic", "sicar", "fcp", "kht",
    ],
    key=lambda t: (-len(t), t),  # longest-first -> regex alternation prefers
)

# Suffix matcher: leftmost-first alternation ordered longest-first, so the
# longest legal form wins ('kabushiki kaisha' before 'kaisha'-less tokens).
_LEF_SUFFIX_RE = "(?:^|\\s)(" + "|".join(LEGAL_FORM_TERMS) + ")$"

LEF_CATEGORIES = [
    "identical", "partial_match", "no_match",
    "lef1_missing", "lef2_missing", "lef1_lef2_missing",
    "lef1_unknown", "lef2_unknown", "lef1_lef2_unknown",
]

# Numeric encoding for tree models (engine-specific; the reference feeds the
# category to XGBoost as a pandas categorical, base_supervised_model.py:58-65).
_LEF_SCORE = {
    "identical": 1.0, "partial_match": 0.5, "no_match": -1.0,
    "lef1_missing": 0.0, "lef2_missing": 0.0, "lef1_lef2_missing": 0.25,
    "lef1_unknown": 0.0, "lef2_unknown": 0.0, "lef1_lef2_unknown": 0.25,
}

# Business types by legal form (ref features_lef.py:35-58 types_by_lef_dict,
# inverting cleanco's terms_by_type).  Curated public mapping for the common
# forms; anything outside maps to the 'unknown_lef' tier, mirroring
# get_business_type (features_lef.py:152-167).
UNKNOWN_LEF = "unknown_lef"
TYPES_BY_LEF: dict[str, list[str]] = {
    "ltd": ["limited"], "limited": ["limited"], "plc": ["limited"],
    "public limited company": ["limited"], "co ltd": ["limited"],
    "pty ltd": ["limited"], "pvt ltd": ["limited"], "pte": ["limited"],
    "llc": ["limited liability"], "limited liability company": ["limited liability"],
    "llp": ["limited liability partnership"],
    "limited liability partnership": ["limited liability partnership"],
    "lp": ["partnership"], "limited partnership": ["partnership"],
    "kg": ["partnership"], "cv": ["partnership"], "vof": ["partnership"],
    "kommanditgesellschaft": ["partnership"], "snc": ["partnership"],
    "k s": ["partnership"], "ohg": ["partnership"],
    "bv": ["private"], "b v": ["private"], "besloten vennootschap": ["private"],
    "gmbh": ["private"], "sarl": ["private"], "sl": ["private"],
    "srl": ["private"], "sro": ["private"], "s r o": ["private"],
    "sp z o o": ["private"], "sp z oo": ["private"],
    "spolka z ograniczona odpowiedzialnoscia": ["private"],
    "societe a responsabilite limitee": ["private"],
    "societa a responsabilita limitata": ["private"],
    "sociedad limitada": ["private"], "eurl": ["private"],
    "d o o": ["private"], "doo": ["private"], "ug": ["private"],
    "nv": ["public"], "n v": ["public"], "naamloze vennootschap": ["public"],
    "ag": ["public"], "aktiengesellschaft": ["public"], "sa": ["public"],
    "s a": ["public"], "societe anonyme": ["public"],
    "sociedad anonima": ["public"], "spa": ["public"],
    "societa per azioni": ["public"], "ab": ["public"], "aktiebolag": ["public"],
    "as": ["public"], "a s": ["public"], "oyj": ["public"], "kk": ["public"],
    "kabushiki kaisha": ["public"], "spolka akcyjna": ["public"],
    "inc": ["corporation"], "corp": ["corporation"], "co": ["corporation"],
    "sa de cv": ["corporation"], "s de rl de cv": ["limited liability"],
    # r4 additions (public cleanco terms_by_type mapping)
    "private limited company": ["limited"],
    "proprietary limited": ["limited"], "sendirian berhad": ["limited"],
    "bhd": ["limited"], "sdn": ["limited"], "limited sirketi": ["limited"],
    "ltda": ["limited"], "lda": ["limited"], "wll": ["limited liability"],
    "l l c": ["limited liability"],
    "incorporated": ["corporation"], "corporation": ["corporation"],
    "company": ["corporation"], "cia": ["corporation"], "cie": ["corporation"],
    "p l c": ["limited"], "s l": ["private"], "s r l": ["private"],
    "sprl": ["private"], "scrl": ["private"], "bvba": ["private"],
    "cvba": ["private"], "mbh": ["private"], "gesmbh": ["private"],
    "gesellschaft mit beschrankter haftung": ["private"],
    "sociedad de responsabilidad limitada": ["private"],
    "sociedade limitada": ["private"], "ivs": ["private"], "sasu": ["private"],
    "s p a": ["public"], "sociedade anonima": ["public"],
    "societe par actions simplifiee": ["public"], "sas": ["public"],
    "s a s": ["public"], "kabushiki gaisha": ["public"], "tbk": ["public"],
    "hf": ["public"], "zrt": ["public"], "nyrt": ["public"],
    "anonim sirketi": ["public"], "pjsc": ["public"], "ojsc": ["public"],
    "cjsc": ["public"], "jsc": ["public"], "psc": ["public"],
    "zao": ["public"], "oao": ["public"], "pao": ["public"],
    "joint stock company": ["public"],
    "open joint stock company": ["public"],
    "closed joint stock company": ["public"],
    "godo kaisha": ["limited liability"], "gk": ["limited liability"],
    "yugen gaisha": ["private"], "yk": ["private"], "ehf": ["private"],
    "gomei kaisha": ["partnership"], "goshi kaisha": ["partnership"],
    "vennootschap onder firma": ["partnership"],
    "commanditaire vennootschap": ["partnership"],
    "spolka komandytowa": ["partnership"], "spolka jawna": ["partnership"],
    "spolka partnerska": ["partnership"], "vos": ["partnership"],
    "s c s": ["partnership"], "scs": ["partnership"],
    "societe en nom collectif": ["partnership"],
    "societe en commandite simple": ["partnership"],
    "societa in accomandita semplice": ["partnership"],
    "societa in nome collettivo": ["partnership"],
    "kommanditgesellschaft auf aktien": ["partnership"],
    "kgaa": ["partnership"], "s c a": ["partnership"], "sca": ["partnership"],
    "bt": ["partnership"],
    # r5: map the previously-unmapped suffix terms (they matched but fell
    # into the unknown_lef tier) + the new r5 jurisdiction terms
    "oy": ["private"], "aps": ["private"], "se": ["public"],
    "ulc": ["unlimited"], "unlimited company": ["unlimited"],
    "ooo": ["private"], "o o o": ["private"], "kft": ["private"],
    "rt": ["public"], "ead": ["public"], "ad": ["public"], "a d": ["public"],
    "fze": ["private"], "fzco": ["private"], "gie": ["partnership"],
    "vzw": ["nonprofit"], "asbl": ["nonprofit"],
    "eingetragener verein": ["nonprofit"], "e v": ["nonprofit"],
    "eingetragene genossenschaft": ["cooperative"], "u a": ["cooperative"],
    "scop": ["cooperative"], "societe cooperative": ["cooperative"],
    "societa cooperativa": ["cooperative"], "amba": ["cooperative"],
    "sci": ["partnership"], "tov": ["private"], "shpk": ["private"],
    "dooel": ["private"], "yugen kaisha": ["private"], "spol": ["private"],
    "pty": ["limited"], "pvt": ["limited"],
    "co kg": ["partnership"], "gmbh co kg": ["partnership"],
    "pte ltd": ["limited"], "sdn bhd": ["limited"],
    "unipessoal lda": ["private"], "asa": ["public"], "ans": ["partnership"],
    "da": ["partnership"], "hb": ["partnership"], "kb": ["partnership"],
    "ky": ["partnership"], "ay": ["partnership"], "osk": ["cooperative"],
    "ekonomisk forening": ["cooperative"], "epe": ["private"],
    "ike": ["private"], "oe": ["partnership"], "ee": ["partnership"],
    "ae": ["public"], "jdoo": ["private"], "dd": ["public"],
    "ska": ["partnership"], "spolka komandytowo akcyjna": ["partnership"],
    "og": ["partnership"], "sagl": ["private"],
    "pllc": ["limited liability"], "pc": ["corporation"],
    "lllp": ["partnership"], "ou": ["private"], "sia": ["private"],
    "uab": ["private"], "dac": ["limited"],
    "designated activity company": ["limited"], "cic": ["limited"],
    "community interest company": ["limited"], "ksc": ["public"],
    "bsc": ["public"], "qsc": ["public"], "saog": ["public"],
    "saoc": ["public"], "eirl": ["private"], "eireli": ["private"],
    "s coop": ["cooperative"], "sociedad cooperativa": ["cooperative"],
    "s en c": ["partnership"], "s de rl": ["private"],
    "societas europaea": ["public"], "d d": ["public"], "s a r l": ["private"],
    # r6 additions (same public cleanco/GLEIF-style sources as the terms)
    "spol s r o": ["private"], "akciova spolecnost": ["public"],
    "chusik hoesa": ["public"], "yuhan hoesa": ["private"],
    "ltd sti": ["limited"], "sab de cv": ["public"],
    "sapi de cv": ["corporation"], "s l u": ["private"], "s a u": ["public"],
    "sp j": ["partnership"], "sp k": ["partnership"],
    "kommanditbolag": ["partnership"], "handelsbolag": ["partnership"],
    "aktieselskab": ["public"], "anpartsselskab": ["private"],
    "aksjeselskap": ["public"], "osakeyhtio": ["private"],
    "societe civile immobiliere": ["partnership"],
    "limited liability limited partnership": ["partnership"],
    "professional corporation": ["corporation"],
    "general partnership": ["partnership"],
    "eood": ["private"], "ood": ["private"], "pat": ["public"],
    "prat": ["private"], "tnhh": ["private"], "slf": ["partnership"],
    "sgps": ["corporation"], "crl": ["cooperative"], "sau": ["public"],
    "slu": ["private"], "gbr": ["partnership"], "stiftung": ["nonprofit"],
    "cio": ["nonprofit"], "lc": ["limited liability"], "pa": ["corporation"],
    "berhad": ["limited"], "ba": ["cooperative"], "kkt": ["partnership"],
    "kd": ["partnership"], "npc": ["nonprofit"], "pvba": ["private"],
    "ltee": ["limited"], "cooperatie": ["cooperative"],
    "stichting": ["nonprofit"], "maatschap": ["partnership"],
    # r7 additions (same public cleanco/GLEIF-style sources as the terms)
    "societe en commandite par actions": ["partnership"],
    "societe civile professionnelle": ["partnership"],
    "societa semplice": ["partnership"],
    "sociedad en comandita": ["partnership"],
    "sociedad colectiva": ["partnership"],
    "empresa individual de responsabilidade limitada": ["private"],
    "drustvo s ogranicenom odgovornoscu": ["private"],
    "druzba z omejeno odgovornostjo": ["private"],
    "delniska druzba": ["public"],
    "societate cu raspundere limitata": ["private"],
    "societate pe actiuni": ["public"],
    "verejna obchodna spolocnost": ["partnership"],
    "komanditna spolocnost": ["partnership"],
    "professional limited liability company": ["limited liability"],
    "professional association": ["corporation"],
    "registered limited liability partnership": ["limited liability partnership"],
    "public joint stock company": ["public"],
    "private joint stock company": ["public"],
    "company limited by guarantee": ["limited"],
    "unlimited liability corporation": ["unlimited"],
    "societa a responsabilita limitata semplificata": ["private"],
    "besloten vennootschap met beperkte aansprakelijkheid": ["private"],
    "societe privee a responsabilite limitee": ["private"],
    "societe cooperative a responsabilite limitee": ["cooperative"],
    "shoqeri me pergjegjesi te kufizuar": ["private"],
    "shoqeri aksionare": ["public"],
    "aktsiaselts": ["public"], "osauhing": ["private"],
    "akciju sabiedriba": ["public"],
    "sabiedriba ar ierobezotu atbildibu": ["private"],
    "akcine bendrove": ["public"], "uzdaroji akcine bendrove": ["private"],
    "ug haftungsbeschrankt": ["private"],
    "close corporation": ["limited liability"],
    "edms bpk": ["limited"], "incorporated association": ["nonprofit"],
    "kollektif sirketi": ["partnership"], "komandit sirketi": ["partnership"],
    "spolka z o o": ["private"],
    "ag co kg": ["partnership"], "se co kg": ["partnership"],
    "ag co kgaa": ["partnership"], "se co kgaa": ["partnership"],
    "gmbh co kgaa": ["partnership"],
    "osuuskunta": ["cooperative"], "andelsselskab": ["cooperative"],
    "interessentskab": ["partnership"],
    "srls": ["private"], "selas": ["public"], "selarl": ["private"],
    "sce": ["cooperative"], "eeig": ["partnership"], "ewiv": ["partnership"],
    "smba": ["limited liability"], "sapa": ["partnership"],
    "ks": ["partnership"], "ry": ["nonprofit"], "slne": ["private"],
    "sal": ["public"], "bpk": ["limited"], "cc": ["limited liability"],
    "sha": ["public"], "ggmbh": ["nonprofit"], "eg": ["cooperative"],
    "ek": ["private"], "rllp": ["limited liability partnership"],
    "ivzw": ["nonprofit"], "aisbl": ["nonprofit"], "clg": ["limited"],
    "coop": ["cooperative"], "co op": ["cooperative"],
    "cooperative": ["cooperative"], "association": ["nonprofit"],
    "foundation": ["nonprofit"], "onlus": ["nonprofit"],
    "e k": ["private"], "i s": ["partnership"], "p s": ["partnership"],
    "c v": ["partnership"], "v o f": ["partnership"], "a g": ["public"],
    "k k": ["public"], "s c": ["partnership"], "s k a": ["partnership"],
    "e u": ["private"], "p c": ["corporation"],
    # r7 second tranche
    "private limited": ["limited"], "public limited": ["limited"],
    "limited company": ["limited"], "company limited": ["limited"],
    "public company limited": ["limited"],
    "obshchestvo s ogranichennoy otvetstvennostyu": ["private"],
    "aktsionernoye obshchestvo": ["public"],
    "youxian gongsi": ["private"], "gufen youxian gongsi": ["public"],
    "sociedad anonima de capital variable": ["corporation"],
    "compania anonima": ["public"], "c a": ["public"],
    "sociedad anonima cerrada": ["private"],
    "sociedad anonima abierta": ["public"],
    "societa in accomandita per azioni": ["partnership"],
    "societe d exercice liberal a responsabilite limitee": ["private"],
    "partnerschaftsgesellschaft": ["partnership"],
    "partg": ["partnership"], "partg mbb": ["partnership"],
    "julkinen osakeyhtio": ["public"], "avoin yhtio": ["partnership"],
    "sac": ["private"], "saa": ["public"], "sae": ["public"],
    "spc": ["private"], "kscc": ["private"], "kscp": ["public"],
    "nuf": ["private"],
    # r8 additions (same public cleanco/GLEIF-style sources as the terms)
    # single-shareholder SAS: keep the family consistent with the 'sasu'
    # abbreviation (round-8 review finding — full form and abbreviation
    # must classify alike or 'acme sasu' vs the full form is no_match)
    "societe par actions simplifiee unipersonnelle": ["private"],
    "entreprise unipersonnelle a responsabilite limitee": ["private"],
    "societe en participation": ["partnership"],
    "societe civile": ["partnership"],
    "groupement d interet economique": ["partnership"],
    "societe d economie mixte": ["corporation"],
    "sociedad por acciones simplificada": ["public"],
    "sociedad civil": ["partnership"],
    "sociedad en nombre colectivo": ["partnership"],
    "sociedad en comandita por acciones": ["partnership"],
    "sociedad en comandita simple": ["partnership"],
    "empresa individual de responsabilidad limitada": ["private"],
    "sociedade unipessoal por quotas": ["private"],
    "sociedade por quotas": ["private"],
    "sociedade em nome coletivo": ["partnership"],
    "societa consortile per azioni": ["public"],
    "kommandiittiyhtio": ["partnership"],
    "allmennaksjeselskap": ["public"],
    "ansvarlig selskap": ["partnership"],
    "publikt aktiebolag": ["public"],
    "akcionarsko drustvo": ["public"],
    "drustvo sa ogranicenom odgovornoscu": ["private"],
    "komanditno drustvo": ["partnership"],
    "aktsionerno druzhestvo": ["public"],
    "druzhestvo s ogranichena otgovornost": ["private"],
    "etaireia periorismenis efthynis": ["private"],
    "anonymi etaireia": ["public"],
    "idiotiki kefalaiouchiki etaireia": ["private"],
    "omorrythmos etaireia": ["partnership"],
    "eterorrythmos etaireia": ["partnership"],
    "tovarystvo z obmezhenoyu vidpovidalnistyu": ["private"],
    "spolecnost s rucenim omezenym": ["private"],
    "verejna obchodni spolecnost": ["partnership"],
    "komanditni spolecnost": ["partnership"],
    "korlatolt felelossegu tarsasag": ["private"],
    "reszvenytarsasag": ["public"],
    "beteti tarsasag": ["partnership"],
    "kozkereseti tarsasag": ["partnership"],
    "zartkoruen mukodo reszvenytarsasag": ["public"],
    "nyilvanosan mukodo reszvenytarsasag": ["public"],
    "dionicko drustvo": ["public"],
    "offene handelsgesellschaft": ["partnership"],
    "eingetragener kaufmann": ["private"],
    "eingetragene kauffrau": ["private"],
    "gesellschaft burgerlichen rechts": ["partnership"],
    "kommanditaktiengesellschaft": ["partnership"],
    "onderlinge waarborgmaatschappij": ["cooperative"],
    "obshchestvo s dopolnitelnoy otvetstvennostyu": ["private"],
    "youxian zeren gongsi": ["private"],
    "godo gaisha": ["limited liability"],
    "jusik hoesa": ["public"], "hapja hoesa": ["partnership"],
    "hapmyeong hoesa": ["partnership"],
    "cong ty trach nhiem huu han": ["private"],
    "cong ty co phan": ["public"],
    "one person company": ["private"],
    "incorporated limited partnership": ["partnership"],
    "no liability": ["corporation"],
    "credit union": ["cooperative"], "building society": ["cooperative"],
    "ohf": ["public"], "abp": ["public"],
    "plt": ["limited liability partnership"], "opc": ["private"],
    "ctcp": ["public"], "zat": ["public"], "vat": ["public"],
    "odo": ["private"], "gesbr": ["partnership"], "keg": ["partnership"],
    "oeg": ["partnership"], "anstalt": ["private"], "persero": ["public"],
    "sccl": ["cooperative"], "scp": ["partnership"], "sep": ["partnership"],
    "o u": ["private"], "a p s": ["private"], "a b": ["public"],
    "o y": ["private"], "g k": ["limited liability"], "y k": ["private"],
    "e p e": ["private"], "i k e": ["private"],
    # r9 additions (same public cleanco/GLEIF-style sources as the terms)
    "societe civile de placement immobilier": ["private"],
    "groupement agricole d exploitation en commun": ["partnership"],
    "exploitation agricole a responsabilite limitee": ["private"],
    "societe d investissement a capital variable": ["public"],
    "societe cooperative de production": ["cooperative"],
    "sociedad de garantia reciproca": ["private"],
    "sociedad cooperativa de responsabilidad limitada": ["cooperative"],
    "sociedad limitada nueva empresa": ["private"],
    "sociedade simples": ["partnership"],
    "empresa publica": ["corporation"],
    "commanditaire vennootschap op aandelen": ["partnership"],
    "cooperatieve vennootschap": ["cooperative"],
    "partnerselskab": ["partnership"],
    "ivaerksaetterselskab": ["private"],
    "kommandittselskap": ["partnership"],
    "enkeltpersonforetak": ["private"],
    "andelslag": ["cooperative"],
    "spoldzielnia": ["cooperative"],
    "przedsiebiorstwo panstwowe": ["corporation"],
    "druzstvo": ["cooperative"],
    "statni podnik": ["corporation"],
    "societate in nume colectiv": ["partnership"],
    "societate in comandita simpla": ["partnership"],
    "publichne aktsionerne tovarystvo": ["public"],
    "pryvatne aktsionerne tovarystvo": ["private"],
    "ippan shadan hojin": ["corporation"],
    "yuhan chaegim hoesa": ["limited liability"],
    "producer company": ["private"],
    "benefit corporation": ["corporation"],
    "public benefit corporation": ["corporation"],
    "industrial and provident society": ["cooperative"],
    "friendly society": ["cooperative"],
    "community benefit society": ["cooperative"],
    "incorporated society": ["corporation"],
    "free zone establishment": ["private"],
    "free zone company": ["private"],
    "sociedad anonima deportiva": ["public"],
    "monoprosopi etaireia periorismenis efthynis": ["private"],
    "sicav": ["public"], "cva": ["partnership"], "esv": ["partnership"],
    "gaec": ["partnership"], "scpi": ["private"], "mepe": ["private"],
    "vvag": ["cooperative"], "zadruga": ["cooperative"],
    # r9 second tranche — abbreviation <-> full form families kept
    # consistent (the SASU lesson: a family splitting across types makes
    # 'acme <abbrev>' vs the full form classify as no_match)
    "societa cooperativa a responsabilita limitata": ["cooperative"],
    "scarl": ["cooperative"],
    "versicherungsverein auf gegenseitigkeit": ["cooperative"],
    "towarzystwo ubezpieczen wzajemnych": ["cooperative"],
    "tuw": ["cooperative"],
    "europaische wirtschaftliche interessenvereinigung": ["partnership"],
    "european economic interest grouping": ["partnership"],
    "societas cooperativa europaea": ["cooperative"],
    "kollektivgesellschaft": ["partnership"],
    "einzelunternehmen": ["private"],
    "societe en commandite": ["partnership"],
    "druzba z neomejeno odgovornostjo": ["unlimited"],
    "javno trgovacko drustvo": ["partnership"],
    "norsk avdeling av utenlandsk foretak": ["private"],
    "selskap med begrenset ansvar": ["cooperative"],
    "yugen sekinin jigyo kumiai": ["limited liability partnership"],
    "cong ty hop danh": ["partnership"],
    "doanh nghiep tu nhan": ["private"],
    "perseroan terbatas": ["limited"],
    "sociedad anonima bursatil de capital variable": ["public"],
    "sociedad anonima promotora de inversion de capital variable": ["corporation"],
    "obecne prospesna spolecnost": ["nonprofit"],
    "zapsany spolek": ["nonprofit"], "z s": ["nonprofit"],
    "societa di mutuo soccorso": ["nonprofit"],
    "fz llc": ["private"], "fzc": ["private"],
    "sarl s": ["private"],
    "comm v": ["partnership"], "gcv": ["partnership"],
    "sp p": ["partnership"],
    "qpsc": ["public"],
    "saatio": ["nonprofit"],
    "teo": ["limited"], "teoranta": ["limited"],
    "ebvba": ["private"],
    "sicaf": ["public"],
    "scpa": ["public"],
    # r10 tranche (same public cleanco/GLEIF-style sources as the terms)
    "toiminimi": ["private"], "tmi": ["private"], "enk": ["private"],
    "mazoji bendrija": ["private"],
    "akciova spolocnost": ["public"],
    "spolocnost s rucenim obmedzenym": ["private"],
    "omorrythmi etaireia": ["partnership"],
    "societe cooperative et participative": ["cooperative"],
    "scic": ["cooperative"],
    "sociedad por acciones": ["corporation"],
    "sociedade unipessoal lda": ["limited"],
    "sociedade gestora de participacoes sociais": ["corporation"],
    "obshchestvo s ogranichennoi otvetstvennostyu": ["private"],
    "aktsionernoe obshchestvo": ["public"],
    "publichnoe aktsionernoe obshchestvo": ["public"],
    "private company limited by shares": ["limited"],
    "kht": ["nonprofit"],
    "sicar": ["public"], "fcp": ["public"],
}


def extract_lef(c: Column) -> Column:
    """':'-joined legal-form suffix terms of a (preprocessed) name, in
    reading order; up to two stacked suffixes, longest term first at each
    step (ref features_lef.py:61-151 extract_lef / custom_basename_and_lef
    with the cleanco default suffix=True)."""
    l1 = F.regexp_extract(c, _LEF_SUFFIX_RE, 1)
    stripped = F.regexp_replace(c, _LEF_SUFFIX_RE, "")
    l2 = F.regexp_extract(stripped, _LEF_SUFFIX_RE, 1)
    return (
        F.when(l1 == "", "")
        .when(l2 == "", l1)
        .otherwise(F.concat_ws(":", l2, l1))
    )


def business_type(lef: Column) -> Column:
    """':'-joined business types for a ':'-joined lef string (first-seen
    order, deduplicated), 'unknown_lef' for unmapped forms (ref
    features_lef.py:152-167 get_business_type)."""
    keys = list(TYPES_BY_LEF)
    bt_map = F.map_from_arrays(
        F.array(*[F.lit(k) for k in keys]),
        F.array(*[F.array(*[F.lit(v) for v in TYPES_BY_LEF[k]]) for k in keys]),
    )
    types = F.flatten(
        F.transform(
            F.split(lef, ":"),
            lambda t: F.coalesce(bt_map[t], F.array(F.lit(UNKNOWN_LEF))),
        )
    )
    # '' stays '' so the missing tier is classified before the unknown tier
    return F.when(lef == "", "").otherwise(
        F.array_join(F.array_distinct(types), ":")
    )


def _lef_category(l1: Column, l2: Column, with_unknown: bool) -> Column:
    """matching_legal_terms (ref features_lef.py:170-202): missing tiers,
    optional unknown tiers (business-type comparisons only), identical on
    equal strings OR equal sorted term multisets, partial on overlap."""
    a1, a2 = F.split(l1, ":"), F.split(l2, ":")
    cat = (
        F.when((l1 == "") & (l2 == ""), "lef1_lef2_missing")
        .when(l1 == "", "lef1_missing")
        .when(l2 == "", "lef2_missing")
    )
    if with_unknown:
        cat = (
            cat.when((l1 == UNKNOWN_LEF) & (l2 == UNKNOWN_LEF), "lef1_lef2_unknown")
            .when(l1 == UNKNOWN_LEF, "lef1_unknown")
            .when(l2 == UNKNOWN_LEF, "lef2_unknown")
        )
    return (
        cat.when(l1 == l2, "identical")
        .when(F.array_sort(a1) == F.array_sort(a2), "identical")
        .when(F.arrays_overlap(a1, a2), "partial_match")
        .otherwise("no_match")
    )


def lef_features(
    df: DataFrame,
    name_col: str = "preprocessed",
    gt_name_col: str = "gt_preprocessed",
    include_business_type: bool = False,
) -> DataFrame:
    """Append lef1, lef2, f_lef_match (category) and f_lef_score (numeric);
    with ``include_business_type`` also bt1, bt2, f_bt_match, f_bt_score
    (the tier where cleanco's 'unknown' category appears, ref
    features_lef.py:216-266 calc_lef_features business_type=True).
    """
    score_map = F.create_map(
        *[F.lit(x) for kv in _LEF_SCORE.items() for x in kv]
    )
    l1, l2 = extract_lef(F.col(name_col)), extract_lef(F.col(gt_name_col))
    out = df.withColumn("lef1", l1).withColumn("lef2", l2)
    cat = _lef_category(F.col("lef1"), F.col("lef2"), with_unknown=False)
    out = out.withColumn("f_lef_match", cat).withColumn(
        "f_lef_score", score_map[F.col("f_lef_match")]
    )
    if include_business_type:
        out = (
            out.withColumn("bt1", business_type(F.col("lef1")))
            .withColumn("bt2", business_type(F.col("lef2")))
            .withColumn(
                "f_bt_match",
                _lef_category(F.col("bt1"), F.col("bt2"), with_unknown=True),
            )
            .withColumn("f_bt_score", score_map[F.col("f_bt_match")])
        )
    return out


RANK_FEATURES = ["f_rank", "f_dist_to_max", "f_dist_to_min", "f_ptp", "f_diff_to_next", "f_diff_to_prev"]


def rank_features(
    df: DataFrame,
    score_col: str,
    uid_col: str = "uid",
    prefix: str = "f_",
) -> DataFrame:
    """Per-uid rank/diff features over a candidate score column.

    Scores are rounded to 5 decimals BEFORE ranking (ref features_rank.py:
    27-31) with gt_uid-desc tie-break (ref spark_supervised_model.py:296-297).
    One shuffle on uid; all six features share the same window family.
    """
    s = F.round(F.col(score_col), 5)
    w = Window.partitionBy(uid_col)
    wo = w.orderBy(F.desc_nulls_last(s), F.desc("gt_uid"))
    wr = w.orderBy(s.asc_nulls_first(), F.asc("gt_uid"))
    return (
        df.withColumn(prefix + "rank", F.row_number().over(wo).cast("double"))
        .withColumn(prefix + "dist_to_max", F.round(F.max(s).over(w) - s, 5))
        .withColumn(prefix + "dist_to_min", F.round(s - F.min(s).over(w), 5))
        .withColumn(prefix + "ptp", F.round(F.max(s).over(w) - F.min(s).over(w), 5))
        .withColumn(prefix + "diff_to_next", F.round(s - F.lag(s, 1).over(wr), 5))
        .withColumn(prefix + "diff_to_prev", F.round(F.lead(s, 1).over(wr) - s, 5))
    )
