"""Text-analysis operators for training-data pipelines — all native exprs.

Language-ID (stopword-profile heuristic), quality scoring, token counting,
document fingerprinting.  Every function is a Column expression or a
single-projection DataFrame op: zero Python boundaries, full codegen.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from entitymatchingmodel_spark.functions.tokenize import word_tokens

STOPWORDS_EN = ("the", "a", "an", "of", "and", "to", "in", "is")

# Tiny per-language stopword profiles for the lang-id heuristic.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "que"),
    "es": ("el", "la", "los", "de", "y", "es", "un", "una"),
    "nl": ("de", "het", "een", "en", "van", "is", "niet", "dat"),
}


def tokens(c: Column) -> Column:
    return word_tokens(F.lower(c))


def token_count(c: Column) -> Column:
    return F.size(tokens(c))


# GPT-2-style pre-tokenizer pattern, simplified to the subset Java regex and
# RE2 treat identically (no lookahead, ASCII classes): contraction suffixes,
# space-prefixed letter runs, digit runs, punctuation runs, whitespace runs.
# Alternation is leftmost-first in both engines, so counts match the oracle.
_BPE_SPLIT_RE = "'(?:s|d|m|t|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s']+|\\s+"


def bpe_token_count(c: Column) -> Column:
    """Approximate LLM token count: number of BPE PRE-tokens (the split a
    GPT-2-style tokenizer applies before byte-pair merges).  An upper-ish
    proxy for real BPE counts without shipping a merges table; native
    regexp, no UDF."""
    return F.size(F.regexp_extract_all(c, F.lit(_BPE_SPLIT_RE), 0))


def stopword_ratio(c: Column, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    """NULL for zero-token (or NULL) docs — a bare division would THROW
    under Spark 4's default ANSI mode (DIVIDE_BY_ZERO), killing a whole
    corpus job on one empty document; NULL also matches what DuckDB's
    lenient division returns, keeping the oracle exact."""
    toks = tokens(c)
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return F.when(n > 0, hits / n.cast("double"))


def avg_token_len(c: Column) -> Column:
    """NULL for zero-token (or NULL) docs — see :func:`stopword_ratio`."""
    toks = tokens(c)
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t))
    return F.when(n > 0, total / n.cast("double"))


def fingerprint(c: Column) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set — robust to token reordering, native."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(c))), " "))


def quality_score(c: Column) -> Column:
    """Heuristic quality in [0,1]: penalize very short docs, very long tokens,
    low alphabetic ratio (C4/Gopher-style rules, simplified)."""
    toks = tokens(c)
    n = F.size(toks)
    alpha_chars = F.length(F.regexp_replace(c, "[^\\p{IsAlphabetic}]", ""))
    alpha_ratio = alpha_chars / F.greatest(F.length(c), F.lit(1)).cast("double")
    len_ok = F.when(n >= 5, F.lit(1.0)).otherwise(n / F.lit(5.0))
    avg_len = avg_token_len(c)
    tok_ok = F.when((avg_len >= 2) & (avg_len <= 12), 1.0).otherwise(0.5)
    return F.round(len_ok * tok_ok * alpha_ratio, 6)


# Frequent character trigrams per language (space-padded word boundaries),
# from public letter/trigram frequency tables — the classic Cavnar-Trenkle
# n-gram-profile language-ID approach, reduced to a fixed hit-count scorer
# so it stays a pure expression (and is oracle-expressible in ANSI SQL).
CHAR_TRIGRAM_PROFILES: dict[str, tuple[str, ...]] = {
    "de": (" de", "der", "er ", "ie ", "die", " di", "sch", "ein", "ich",
           "nde", "en ", "und", " un", "cht", "das", " da", "ung", "ten",
           "ber", "gen"),
    "en": (" th", "the", "he ", " an", "and", "nd ", "ing", "ng ", " of",
           "of ", " to", "to ", "ion", " in", "in ", "ed ", "er ", " re",
           "is ", "at "),
    "es": (" de", "de ", "os ", " la", "la ", "el ", " el", "que", " qu",
           "ue ", "en ", " en", "ado", "ar ", " co", "es ", "as ", "los",
           " lo", "del"),
    "fr": (" de", "de ", "es ", "le ", " le", "ent", "nt ", "la ", " la",
           "on ", "re ", " pa", "e d", "e l", "que", " qu", "ue ", "les",
           "our", "ais"),
    "it": ("re ", " di", "di ", "to ", "la ", " la", "che", " ch", "no ",
           "one", "zio", " co", "ne ", "ell", "lla", "del", " de", "ta ",
           "ato", "gli"),
    "nl": ("en ", " de", "de ", "an ", "van", " va", "een", " ee", "het",
           " he", "cht", "sch", "ijk", " ge", "aar", "der", "ver", "oor",
           " ve", "nde"),
    "pt": (" de", "de ", "ao ", "os ", "as ", "que", " qu", "ue ", "ent",
           "nt ", " co", "da ", " da", "do ", " do", "cao", "com", " pa",
           "res", "ram"),
    # r7 breadth.  Profiles are restricted to [a-z ] because the
    # normalizer collapses every non-a-z char (including accented letters:
    # a-ring, o-umlaut, l-stroke, dotless-i, ...) to a SPACE — so each
    # language's trigrams are drawn from the accent-free residue of its
    # frequent words (sv 'och/att/det', da 'og/til/ikke', pl 'nie/przez/
    # -ego/-ych', tr 'bir/-lar/-ler', ro '-ul/-are/lui', fi 'ja/on/-ssa/
    # -lla/-ksi'), not from raw frequency tables.
    "sv": (" oc", "och", "ch ", " at", "att", "tt ", " de", "det", "de ",
           "en ", "er ", "ar ", "som", " so", "om ", "et ", "nde", "ing",
           "ng ", " ha"),
    "da": (" de", "det", "de ", "der", "en ", "er ", " og", "og ", " at",
           "at ", " ti", "til", "il ", "for", " fo", "nde", "ed ", "ikk",
           "kke", " ha"),
    "pl": (" ni", "nie", "ie ", " po", " pr", "prz", "rze", "ze ", " na",
           "na ", "ch ", "ego", "go ", "ych", " do", "do ", "ani", "ej ",
           "ow ", "owa"),
    "tr": ("bir", " bi", "ir ", "lar", "ler", "eri", "an ", "in ", "er ",
           "en ", "ar ", " ka", " ya", "ak ", "da ", " da", "de ", " de",
           "ile", " il"),
    "ro": (" de", "de ", "ul ", "ea ", "are", "re ", " in", "in ", "lui",
           " cu", "cu ", "ate", "ii ", "lor", "or ", "le ", "est", "st ",
           " ca", "te "),
    "fi": ("en ", "in ", "an ", "on ", " on", "ist", "sta", "ta ", " ja",
           "ja ", "aan", "lla", "lle", "ssa", "ksi", "sen", "ine", "tta",
           "va ", "si "),
    # r7 second tranche (same [a-z ]-residue rule: id 'yang/dan/untuk/
    # dengan/tidak', cs 'je/pro/na/se/-ost/-ych' ascii residue, hu 'az/
    # egy/nem/hogy/meg/-nek')
    "id": ("yan", "ang", "ng ", " ya", " da", "dan", "an ", "unt", "tuk",
           "uk ", "den", "eng", "gan", "tid", "ida", "dak", " me", "men",
           "kan", " ad"),
    "cs": (" je", "je ", " pr", "pro", "ro ", " na", "na ", " se", "se ",
           "ost", "st ", "ich", "eho", "ho ", " po", "pod", " ne", "ne ",
           "em ", "ych"),
    "hu": (" az", "az ", " eg", "egy", "gy ", " ne", "nem", "em ", "hog",
           "ogy", " ho", "meg", " me", "eg ", "nek", "ek ", "tt ", "ett",
           "szt", " sz"),
    # r8 breadth (same [a-z ]-residue rule: no 'og/som/til/av/ikke/-sjon',
    # vi 'khong/cua/duoc/trong/nguoi' ascii residue, ca 'que/els/amb/per/
    # una', sk 'ako/ktory/pre/sa/nie', hr 'koji/da/je/se/bit/ima/sto/ali')
    "no": (" og", "og ", "som", " so", "om ", "til", " ti", "il ", " av",
           "av ", "ikk", "kke", " ik", "sjo", "jon", "ble", " bl", "fra",
           " fr", "har"),
    "vi": ("ong", "ng ", " kh", "kho", "hon", "ngu", "guo", "uoi", "oi ",
           "uoc", "oc ", " cu", "cua", "ua ", " tr", "tro", "ron", " ng",
           "ay ", "nay"),
    "ca": ("que", " qu", "ue ", "els", "ls ", " el", "les", " le", "amb",
           " am", "mb ", "per", " pe", "er ", "una", " un", "del", "est",
           "aqu", "nt "),
    "sk": ("ako", " ak", "ko ", "kto", " kt", "tor", "ory", "ry ", "pre",
           " pr", "re ", " sa", "sa ", " je", "je ", "nie", "ie ", " ni",
           "ova", "ach"),
    "hr": (" ko", "koj", "oji", "ji ", " da", "da ", " je", "je ", " se",
           "se ", " na", "na ", "bit", "ti ", "ima", " im", "sto", " st",
           "ali", " al"),
    # r9 breadth (same [a-z ]-residue rule: sl 'tudi/kot/je/in/da/se/pri/
    # tako', et 'kui/oma/vad/on/ja/sel(le)/ise/-ud/-ing', lv 'un/ir/par/
    # tas/vai/-iem/kas/-iba', lt 'ir/yra/kad/kaip/tai/bet/-iau/-aus/-mas',
    # sw 'na/ya/wa/kwa/katika/ni/za/la/cha')
    "sl": ("tud", "udi", "di ", " tu", "kot", " ko", "ot ", " je", "je ",
           " in", "in ", " da", "da ", " se", "se ", "pri", " pr", "ri ",
           "tak", "ako"),
    "et": ("kui", "ui ", " ku", "oma", " om", "ma ", "ing", "ng ", "vad",
           "ad ", " va", "on ", " on", " ja", "ja ", "sel", "el ", "ise",
           "se ", "ud "),
    "lv": (" un", "un ", " ir", "ir ", "par", " pa", "ar ", "tas", " ta",
           "as ", "vai", " va", "ai ", "iem", "em ", "kas", " ka", "ka ",
           "ba ", "iba"),
    "lt": (" ir", "ir ", "yra", " yr", "ra ", "kad", " ka", "ad ", "kai",
           "aip", "ip ", "tai", "ai ", "bet", " be", "et ", "iau", "aus",
           "us ", "mas"),
    "sw": (" na", "na ", " ya", "ya ", " wa", "wa ", "kwa", " kw", "ika",
           "kat", "ati", "tik", " ku", "ni ", " ni", "za ", " za", "la ",
           "cha", " ch"),
    # r9 second tranche (same [a-z ]-residue rule: af 'die/wat/vir/ons/
    # baie/hulle/maar', tl 'ang/mga/ito/hindi/niya/dahil', ga 'agus/ach/
    # bhi/sin/chun/faoi', eu 'eta/bat/zen/dira/egin/izan').  Winner-shift
    # audit: adding these four changed NO existing plant phrase's argmax
    # (python-mirror check, this round).
    "af": (" di", "die", "ie ", " wa", "wat", "at ", " vi", "vir", "ir ",
           " on", "ons", "ns ", "bai", "aie", " ba", "hul", "ull", "lle",
           " hu", "maa"),
    "tl": ("ang", "ng ", " mg", "mga", "ga ", "ito", "to ", " it", "hin",
           "ind", "ndi", "di ", " hi", "niy", "iya", "ya ", " ni", "dah",
           "ahi", "hil"),
    "ga": ("agu", "gus", "us ", " ag", " ac", "ach", "ch ", "bhi", "hi ",
           " bh", "sin", "in ", " si", "chu", "hun", "un ", " ch", "fao",
           "aoi", "oi "),
    "eu": ("eta", "ta ", " et", "bat", " ba", "zen", "en ", " ze", "dir",
           "ira", "ra ", " di", "egi", "gin", "in ", " eg", "iza", "zan",
           "an ", " iz"),
    # r10 tranche (same [a-z ]-residue rule: sq 'dhe/nje/per/eshte/qe/
    # nga', cy 'yn/mae/wedi/bod/gyda/-ydd', mt 'li/ta/il/ghal/tal/fil/
    # minn/hija').  Additions audited with the python mirror: NO existing
    # plant phrase's argmax changed (tests/test_text_functions.py now
    # pins every phrase's argmax == its language, the check that caught
    # the r8 pt->sk phrase drift).
    "sq": (" dh", "dhe", "he ", " nj", "nje", "je ", " pe", "per", "er ",
           " es", "esh", "sht", "hte", "te ", " qe", "qe ", " ng", "nga",
           "ga ", "shq"),
    "cy": (" yn", "yn ", " ma", "mae", "ae ", " we", "wed", "edi", "di ",
           " bo", "bod", "od ", " gy", "gyd", "yda", "ydd", "dd ", " dd",
           "wch", "ch "),
    "mt": (" li", "li ", " ta", "ta ", " il", "il ", " gh", "gha", "hal",
           "tal", "al ", " fi", "fil", " mi", "min", "inn", "nn ", "hij",
           "ija", "ja "),
    # r11 tranche (same [a-z ]-residue rule), grown under the r11
    # data-driven scorer shapes (kernel/join keep generated-code size
    # constant): is 'ekki/hann/hun/hvad/eru/sem/-inn/
    # essi' accent-free residue, lb 'vun/mat/fir/ass/ginn/huet/esou/ech/
    # net/mee', la '-ibus/-orum/-um/-tur/cum/qui/sunt/iam/-ius/-tis',
    # eo 'kaj/kiu/ankau/-ojn/-ajn/-ulo/-os/cio/cia', mi 'whaka-/nga/kei/
    # tenei/ratou/tangata/ki/mai', so 'waa/iyo/ayaa/uu/soo/inuu/dhan/
    # kale/-ka/aan', yo 'ati/awon/gbogbo/fun/inu/ile/pe/ni/ti/si',
    # zu 'futhi/ukuthi/kanye/ngoba/abantu/-ntu/lokhu/khona/uma',
    # mg 'amin/any/ny/izany/izay/dia/olona/tamin/fa/tsy/sy'.  Additions
    # audited with the python mirror: NO existing plant phrase's raw
    # argmax changed (42/42 green in tests/test_text_functions.py).
    "is": (" ek", "ekk", "kki", "ki ", "han", "ann", "hun", " hv", "hva",
           "eir", " ei", "eru", "ru ", "sem", "em ", "inn", "nni", "ess",
           "ssi", "si "),
    "lb": ("vun", " vu", "un ", "mat", "fir", " fi", "ass", "ss ", "gin",
           " gi", "hue", "uet", "eso", "sou", "ou ", "ech", " ec", "net",
           "ier", "mee"),
    "la": ("ibu", "bus", "oru", "rum", "um ", "tur", "atu", "cum", " cu",
           "qui", "sun", "unt", "iam", "am ", "ius", "us ", "tis", "is ",
           "tem", "ant"),
    "eo": ("kaj", "aj ", "kiu", "iu ", "ank", "nka", "kau", "au ", "ojn",
           "jn ", "oj ", "ajn", "ulo", "lo ", "os ", "ajo", "cio", "io ",
           "cia", "ia "),
    "mi": ("wha", " wh", "nga", "ga ", "kei", " ke", "ei ", "ten", "eni",
           "nei", "rat", "tou", "ou ", "tan", "ang", "ki ", " ki", "mai",
           "ai ", "oki"),
    "so": ("waa", "aa ", " wa", "iyo", " iy", "yo ", " ay", "yaa", "uu ",
           " uu", "soo", "oo ", "inu", "nuu", "dha", "ha ", "kal", "ale",
           "lka", "aan"),
    "yo": ("ati", " aw", "awo", "won", "gbo", "ogb", "gba", "ba ", "fun",
           "un ", "nu ", "ile", "le ", "pe ", " pe", "ni ", " ni", "ti ",
           "si ", "oka"),
    "zu": ("fut", "uth", "thi", " uk", "kut", "kan", "nye", "ye ", "ngo",
           "gob", "oba", " ab", "ban", "ntu", "tu ", "okh", "khu", "hon",
           "ona", "uma"),
    "mg": ("ami", "min", "any", "ny ", " ny", "iza", "zan", "zay", "ay ",
           "dia", "ia ", " ol", "lon", "tam", "fa ", " fa", "tsy", "sy ",
           " sy", "ho "),
}
# The DuckDB oracle's replace()-count SQL (``_trigram_sql_hits`` in
# __spark_entry__.py) requires that no profile trigram can overlap ITSELF
# (period 1: "aaa"; period 2: t[0]==t[2], e.g. "ara" in "arara") — then
# non-overlapping left-to-right counting equals the all-positions count
# the package scorers use.  Enforced at import so a profile edit cannot
# silently desync the scorers from their oracle.
for _lang, _profile in CHAR_TRIGRAM_PROFILES.items():
    for _t in _profile:
        if len(_t) != 3 or _t[0] == _t[2]:
            raise AssertionError(
                f"profile trigram {_t!r} ({_lang}) is self-overlapping or "
                "not length 3 — replace() counting would undercount it"
            )


def _chargram_norm(c: Column) -> Column:
    """Lowercase, collapse non-letter runs to single spaces, pad with one
    space each side so word-boundary trigrams (' th', 'he ') fire.  NULL
    input counts as empty text (→ ('und', 0, 0)) so both engines agree on
    nullable corpora."""
    return F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))), "[^a-z]+", " ")),
        F.lit(" "),
    )


# ---------------------------------------------------------------------------
# Data-driven shapes of the char-trigram scorer.
#
# A literal expression scorer (one replace() count per profile trigram)
# grows generated Java with the dictionary, and whole-stage codegen
# inlines every fused operator into one method — so past a few dozen
# profiles it crosses janino's 64KB-per-method limit and Spark silently
# drops the WHOLE stage to interpreted eval.  The two shapes below keep
# generated-code size CONSTANT in dictionary size, so profile growth
# (fastText-lid ships 176 languages) cannot trigger that fallback:
#
# * :func:`lang_scores_kernel` — an Arrow-batched numpy kernel: ONE O(len)
#   pass per document, profiles in a base-28 trigram-code lookup table
#   built once per executor.  A stateless projection, so it is
#   append-safe on streams, and it plans as its own ArrowEvalPython node —
#   the surrounding JVM stages codegen cleanly.  The curation front doors
#   and :func:`lang_id_table` use it.
# * :func:`lang_id_join_table` — the pure-JVM batch shape: explode trigram
#   positions, broadcast-join the (gram, lang, prio) profile table, two
#   bounded aggregates, left-join back.  The profile table is DATA in the
#   plan's references, not generated code.  Needs aggregation => batch
#   only.
#
# Both shapes are pinned exactly equal to a plain-Python reference in
# tests: same normalizer, same all-positions counting, same alphabetical
# tie-break, same 'und' zero-hit rule.
# ---------------------------------------------------------------------------

_LANGS_SORTED = tuple(sorted(CHAR_TRIGRAM_PROFILES))
_KERNEL_TABLES = None
# python mirror of _chargram_norm's "[^a-z]+" -> " " collapse (identical
# semantics in Java and Python regex: ASCII class, no case folding)
_KERNEL_NORM_RE = re.compile(r"[^a-z]+")


def _kernel_tables():
    """Lazy per-process numpy tables for :func:`lang_scores_kernel`:
    ``lut`` maps a base-28 trigram code -> compact gram id (-1 when the
    gram is in no profile; code 27 marks the inter-document separator, so
    any window crossing a document boundary resolves to -1), and
    ``member[gram id]`` is the 0/1 membership row over the sorted language
    list (a trigram may belong to several profiles)."""
    global _KERNEL_TABLES
    if _KERNEL_TABLES is None:
        import numpy as np

        grams = sorted({t for p in CHAR_TRIGRAM_PROFILES.values() for t in p})

        def enc(t: str) -> int:
            v = 0
            for ch in t:
                v = v * 28 + (26 if ch == " " else ord(ch) - 97)
            return v

        lut = np.full(28**3, -1, dtype=np.int32)
        member = np.zeros((len(grams), len(_LANGS_SORTED)), dtype=np.int32)
        gram_idx = {g: i for i, g in enumerate(grams)}
        for g in grams:
            lut[enc(g)] = gram_idx[g]
        for li, lang in enumerate(_LANGS_SORTED):
            for t in CHAR_TRIGRAM_PROFILES[lang]:
                member[gram_idx[t], li] = 1
        # byte -> base-28 digit: a-z -> 0..25, space -> 26, anything else
        # (only the \x00 separator can appear post-normalize) -> 27
        tr = np.full(256, 27, dtype=np.int32)
        tr[32] = 26
        tr[97:123] = np.arange(26)
        _KERNEL_TABLES = (lut, member, tr)
    return _KERNEL_TABLES


def _kernel_score_batch(texts):
    """Score one Arrow batch: returns (lang, hits, n_trigrams) arrays.
    Wholly vectorized — documents are joined with a \\x00 separator (whose
    base-28 digit 27 poisons every cross-boundary window) so trigram
    coding, profile lookup and per-(doc, gram) counting are single numpy
    passes over the batch, followed by one (docs x grams) @ (grams x langs)
    count matmul and an argmax whose first-max-wins is the alphabetical
    tie-break."""
    import numpy as np

    lut, member, tr = _kernel_tables()
    norms = [
        " " + _KERNEL_NORM_RE.sub(" ", (t or "").lower()).strip(" ") + " "
        for t in texts
    ]
    n = len(norms)
    lens = np.fromiter((len(s) for s in norms), dtype=np.int64, count=n)
    n_tri = np.maximum(lens - 2, 0).astype("int32")
    langs_arr = np.array(_LANGS_SORTED)
    if n == 0:
        z = np.empty(0, dtype="int32")
        return np.empty(0, dtype=object), z, z
    blob = "\x00".join(norms)
    v = tr[np.frombuffer(blob.encode("ascii"), dtype=np.uint8)]
    hits_mat = np.zeros((n, member.shape[0]), dtype=np.int64)
    if len(v) >= 3:
        codes = v[:-2] * 784 + v[1:-1] * 28 + v[2:]
        gi = lut[codes]
        mask = gi >= 0
        if mask.any():
            # window start position -> owning document (separators own no
            # windows: any window touching one has gi == -1 and is masked)
            starts = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1] + 1, out=starts[1:])
            doc_of = (
                np.searchsorted(starts, np.nonzero(mask)[0], side="right") - 1
            )
            flat = np.bincount(
                doc_of * member.shape[0] + gi[mask],
                minlength=n * member.shape[0],
            )
            hits_mat = flat.reshape(n, member.shape[0])
    per_lang = hits_mat @ member
    best = per_lang.argmax(axis=1)
    mx = per_lang.max(axis=1)
    lang = np.where(mx > 0, langs_arr[best], "und")
    return lang, mx.astype("int32"), n_tri


def lang_scores_kernel(c: Column) -> Column:
    """Struct ``(lang, hits, n_trigrams)`` for the best-matching
    char-trigram profile, from the Arrow-batched numpy kernel: every
    overlapping trigram of the normalized text is tested against each
    language's profile; the language with the most hits wins, ties break
    to the alphabetically-first language; ``('und', 0, n)`` when no
    profile hits.  Generated-code size is independent of the profile
    dictionary (see the section comment above).  The Python-side
    normalizer mirrors :func:`_chargram_norm` (lower -> collapse
    non-[a-z] runs to single spaces -> strip -> pad); ``[^a-z]+``
    behaves identically in Java and Python regex, and both engines'
    lowercasing agrees on the Latin repertoire the [a-z]-residue profiles
    can see."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<lang:string,hits:int,n_trigrams:int>")
    def _score(texts):  # pd.Series -> pd.DataFrame
        import pandas as pd

        lang, hits, n_tri = _kernel_score_batch(texts.tolist())
        return pd.DataFrame(
            {"lang": lang, "hits": hits, "n_trigrams": n_tri}
        )

    # The kernel IS deterministic; the flag only tells Catalyst not to
    # substitute it through Project/Filter boundaries — without it, a
    # filter on the scored `lang` pushes below the projection and the
    # batch is shipped through TWO ArrowEvalPython nodes (one for the
    # predicate, one for the output column), doubling the Python round
    # trips on the hottest front-door path.  Evaluate-once is also the
    # conservative choice for a Python-backed expression.
    return _score.asNondeterministic()(c)


def lang_id_kernel(c: Column) -> Column:
    """Language code from the Arrow-batched kernel ('und' if no hits) —
    the scale/robustness upgrade over the stopword :func:`lang_id`
    (trigram profiles fire on inflected forms and boundary n-grams that a
    fixed stopword list misses)."""
    return lang_scores_kernel(c)["lang"]


def lang_id_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, lang, hits, n_trigrams) per document — the
    :func:`lang_scores_kernel` struct projected as columns."""
    s = lang_scores_kernel(F.col(text_col))
    return df.select(
        F.col(id_col),
        s["lang"].alias("lang"),
        s["hits"].alias("hits"),
        s["n_trigrams"].alias("n_trigrams"),
    )


def lang_profile_table(spark) -> DataFrame:
    """The char-trigram profiles as a DataFrame ``(gram, lang, prio)`` —
    the broadcast build side of :func:`lang_id_join_table`.  ``prio`` is
    the negated alphabetical index, so ``max(struct(hits, prio, lang))``
    picks the alphabetically-first language on ties."""
    rows = [
        (t, lang, -i)
        for i, lang in enumerate(_LANGS_SORTED)
        for t in CHAR_TRIGRAM_PROFILES[lang]
    ]
    return spark.createDataFrame(rows, "gram string, lang string, prio int")


def lang_id_join_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, lang, hits, n_trigrams) per document via the DATA-DRIVEN
    broadcast-join shape — pinned exactly equal to :func:`lang_id_table`
    (the kernel shape), with plan size independent of the
    profile dictionary: every overlapping trigram position is exploded,
    equi-joined against the broadcast ``(gram, lang, prio)`` profile table
    (matched positions only survive), counted per (id, lang), and the
    argmax is one more bounded aggregate; documents with no matching
    position are restored 'und' by the final left join.  Batch only (two
    aggregates); streams use :func:`lang_scores_kernel`."""
    profiles = lang_profile_table(df.sparkSession)
    base = df.select(
        F.col(id_col), _chargram_norm(F.col(text_col)).alias("_n")
    ).withColumn(
        "_nt", F.greatest(F.length("_n") - 2, F.lit(0)).cast("int")
    )
    # sequence(1, len-2) would DESCEND for len < 3 (Spark defaults to step
    # -1 when start > stop) — guard short docs to an empty position list
    positions = F.when(
        F.length("_n") >= 3, F.sequence(F.lit(1), F.length("_n") - 2)
    ).otherwise(F.array().cast("array<int>"))
    grams = base.select(
        F.col(id_col), F.explode(positions).alias("_p"), F.col("_n")
    ).select(
        F.col(id_col), F.col("_n").substr(F.col("_p"), F.lit(3)).alias("gram")
    )
    hits = (
        grams.join(F.broadcast(profiles), "gram")
        .groupBy(id_col, "lang", "prio")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    best = hits.groupBy(id_col).agg(
        F.max(F.struct(F.col("hits"), F.col("prio"), F.col("lang"))).alias("_t")
    )
    return base.join(best, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("_t.lang"), F.lit("und")).alias("lang"),
        F.coalesce(F.col("_t.hits"), F.lit(0)).cast("int").alias("hits"),
        F.col("_nt").alias("n_trigrams"),
    )


def lang_id(c: Column) -> Column:
    """Pick the language whose stopword profile hits most tokens; 'und' if none."""
    toks = tokens(c)
    best_lang, best_score = None, None
    scores = [
        (lang, F.size(F.filter(toks, lambda t: t.isin(*words))))
        for lang, words in LANG_PROFILES.items()
    ]
    # greatest-of with deterministic first-wins tie-break via struct max
    packed = F.array(
        *[F.struct(s.alias("hits"), F.lit(lang).alias("lang")) for lang, s in scores]
    )
    top = F.array_max(packed)
    return F.when(top["hits"] > 0, top["lang"]).otherwise(F.lit("und"))


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signals per document:

    - ``dup_token_ratio``: 1 - |distinct tokens| / |tokens| (0 = no repeats);
    - ``top_bigram_ratio``: tokens covered by the most frequent word bigram
      / |tokens| (tie-break: lexicographically smallest bigram).

    Repetitious machine-generated text scores high on both; used with
    ``quality_score`` as a curation filter.  One explode + one groupBy +
    one per-doc window — all shuffles are on ``id_col``.
    """
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col),
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_unique"),
        # arrays_zip of the two shifted slices instead of per-element
        # element_at lookups inside an interpreted HOF — same output
        # (NULL when <2 tokens), measured severalfold faster (see
        # operators/dedup.word_shingles for the pattern rationale)
        F.when(
            F.size(toks) >= 2,
            F.transform(
                F.arrays_zip(
                    F.slice(toks, 1, F.size(toks) - 1).alias("0"),
                    F.slice(toks, 2, F.size(toks) - 1).alias("1"),
                ),
                lambda s: F.concat_ws(" ", s["0"], s["1"]),
            ),
        ).alias("_bigrams"),
    )
    ex = base.select(
        id_col, "n_tokens", "n_unique", F.explode_outer("_bigrams").alias("bigram")
    )
    counts = ex.groupBy(id_col, "n_tokens", "n_unique", "bigram").agg(
        F.count(F.col("bigram")).alias("c")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(F.desc("c"), F.asc("bigram"))
    top = counts.withColumn("_r", F.row_number().over(w)).filter(F.col("_r") == 1)
    return top.select(
        F.col(id_col),
        F.round(
            F.when(
                F.col("n_tokens") > 0,
                1.0 - F.col("n_unique") / F.col("n_tokens").cast("double"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_token_ratio"),
        F.round(
            F.when(F.col("bigram").isNotNull(), 2.0 * F.col("c"))
            .otherwise(F.lit(0.0))
            / F.greatest(F.col("n_tokens"), F.lit(1)).cast("double"),
            6,
        ).alias("top_bigram_ratio"),
    )


def text_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document stats table (used by the driver correctness query)."""
    c = F.col(text_col)
    toks = tokens(c)
    return df.select(
        F.col(id_col),
        F.size(toks).cast("int").alias("n_tokens"),
        F.length(c).cast("int").alias("n_chars"),
        F.round(stopword_ratio(c), 6).alias("stopword_ratio"),
        F.round(avg_token_len(c), 6).alias("avg_token_len"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_unique_tokens"),
        bpe_token_count(c).cast("int").alias("n_bpe_tokens"),
    )


def _gopher_rule_cols(
    txt: Column,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
) -> dict[str, Column]:
    """Named column expressions of :func:`gopher_rules_table` (shared with
    the fused :func:`gopher_keep_table`, whose ``keep_rules`` flag rides
    the repetition table's base projection — same expressions, one scan)."""
    words = F.filter(F.split(txt, "\\s+"), lambda w: w != "")
    n_words = F.size(words)  # -1 for NULL text
    total_word_chars = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    n_alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    # non-overlapping occurrence counts via length deltas (the same
    # replace()-counting contract as the lang-id oracle; '#' is length 1
    # so overlap is moot, '...' counts greedily left-to-right)
    n_hash = F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(txt) - F.length(F.replace(txt, F.lit("..."), F.lit("")))
    ) / 3
    lines = F.filter(F.split(txt, "\n"), lambda l: F.trim(l) != "")
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(lines, lambda l: F.ltrim(l).rlike("^[-*•]"))
    )
    n_ell_end = F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("...")))

    r6 = lambda c: F.round(c, 6)
    mean_word_len = F.when(
        n_words > 0, r6(total_word_chars / n_words.cast("double"))
    )
    symbol_ratio = F.when(
        n_words > 0, r6((n_hash + n_ellipsis) / n_words.cast("double"))
    )
    bullet_ratio = F.when(
        n_lines > 0, r6(n_bullet / n_lines.cast("double"))
    )
    ellipsis_ratio = F.when(
        n_lines > 0, r6(n_ell_end / n_lines.cast("double"))
    )
    alpha_ratio = F.when(
        n_words > 0, r6(n_alpha_words / n_words.cast("double"))
    )
    keep = (
        (n_words >= min_words) & (n_words <= max_words)
        & (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len)
        & (symbol_ratio <= max_symbol_ratio)
        & (bullet_ratio <= max_bullet_ratio)
        & (ellipsis_ratio <= max_ellipsis_ratio)
        & (alpha_ratio >= min_alpha_word_ratio)
    )
    return {
        "n_words": F.greatest(n_words, F.lit(0)).cast("long"),
        "mean_word_len": mean_word_len,
        "symbol_ratio": symbol_ratio,
        "bullet_ratio": bullet_ratio,
        "ellipsis_ratio": ellipsis_ratio,
        "alpha_word_ratio": alpha_ratio,
        "keep": F.coalesce(keep, F.lit(False)),
    }


def gopher_rules_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
) -> DataFrame:
    """Gopher-style repetition-free quality rules (Rae et al. 2021 §A1.1.2,
    public paper; also the C4/RefinedWeb rule family) as ONE map-only
    projection — the rule columns a curation pipeline filters and audits
    on, not just a scalar score (complements :func:`quality_score`).

    Per document: ``n_words`` (whitespace words — Gopher's unit, unlike
    :func:`tokens`' alnum runs), ``mean_word_len``, ``symbol_ratio``
    (non-overlapping '#'/'...' counts per word), ``bullet_ratio`` /
    ``ellipsis_ratio`` (fraction of lines starting with a bullet /
    ending with an ellipsis), ``alpha_word_ratio`` (fraction of words
    containing an ASCII letter — the ASCII simplification keeps the
    Java-regex and ANSI-SQL engines bit-identical), and ``keep`` — the
    AND of the Gopher thresholds (defaults from the paper).

    NULL/empty text keeps its row: counts 0, ratios NULL, ``keep`` false
    (the corpus-wide all-NULL convention).  Ratios are per-row divisions
    of integers (IEEE-identical in both engines) rounded to 6dp; no
    aggregation, no shuffle — the filter pushes to the scan at any scale.
    """
    cols = _gopher_rule_cols(
        F.col(text_col),
        min_words=min_words,
        max_words=max_words,
        min_mean_word_len=min_mean_word_len,
        max_mean_word_len=max_mean_word_len,
        max_symbol_ratio=max_symbol_ratio,
        max_bullet_ratio=max_bullet_ratio,
        max_ellipsis_ratio=max_ellipsis_ratio,
        min_alpha_word_ratio=min_alpha_word_ratio,
    )
    return df.select(
        F.col(id_col), *[c.alias(name) for name, c in cols.items()]
    )


# Gopher repetition thresholds (Rae et al. 2021, Table A1 — public paper).
# Single source of truth: the operator defaults AND the generated oracle
# fragments both read this dict, so they cannot desync.
GOPHER_REPETITION_THRESHOLDS: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}

_TOP_NGRAM_NS = (2, 3, 4)
_DUP_NGRAM_NS = (5, 6, 7, 8, 9, 10)


def _ws_words(c: Column) -> Column:
    """Whitespace words — Gopher's unit (shared with gopher_rules_table)."""
    return F.filter(F.split(c, "\\s+"), lambda w: w != "")


def _word_ngrams(words: Column, n: int) -> Column:
    """Array of space-joined word ``n``-grams (NULL when < n words) —
    the arrays_zip-of-shifted-slices pattern (see repetition_stats), not
    per-element element_at lookups."""
    cnt = F.size(words) - (n - 1)
    zipped = F.arrays_zip(
        *[F.slice(words, j + 1, cnt).alias(f"w{j}") for j in range(n)]
    )
    return F.when(
        F.size(words) >= n,
        F.transform(zipped, lambda s: F.concat_ws(" ", *[s[f"w{j}"] for j in range(n)])),
    )


def _sum_lengths(arr: Column) -> Column:
    """Total string length over an array column (0 for empty)."""
    return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))


def _merged_repetition_thresholds(
    thresholds: dict[str, float] | None,
) -> dict[str, float]:
    """Validate+merge user thresholds over ``GOPHER_REPETITION_THRESHOLDS``."""
    th = dict(GOPHER_REPETITION_THRESHOLDS)
    if thresholds:
        unknown = set(thresholds) - set(th)
        if unknown:
            raise ValueError(f"unknown thresholds: {sorted(unknown)}")
        th.update(thresholds)
    return th


def gopher_repetition_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """Gopher's REPETITION rule table (Rae et al. 2021 §A1.1.1 — the other
    half of :func:`gopher_rules_table`'s quality rules): per document the
    13 published repetition fractions, each rounded to 6dp, plus
    ``keep_repetition`` = AND of all thresholds (defaults =
    ``GOPHER_REPETITION_THRESHOLDS``, the paper's Table A1 values).

    Definitions (documented precisely because the oracle mirrors them):

    - ``dup_line_frac`` / ``dup_para_frac``: fraction of non-empty lines
      (split on ``\\n``) / paragraphs (split on ``\\n\\n+``) that are
      repeat occurrences of an earlier identical line/paragraph
      (``1 - distinct/total``).
    - ``dup_line_char_frac`` / ``dup_para_char_frac``: characters inside
      those repeat occurrences over total line/paragraph characters
      (``1 - distinct_chars/total_chars``).
    - ``top_{2,3,4}gram_char_frac``: characters covered by the most
      frequent word n-gram — ``count * ngram_word_chars`` over total word
      characters; only n-grams occurring >= 2 times compete (a count-1
      n-gram is not repetition — without this, every short unique doc
      scores its longest n-gram); ties broken by longer n-gram then
      lexicographically smallest (deterministic, unlike
      Counter.most_common).
    - ``dup_{5..10}gram_char_frac``: characters in repeat occurrences of
      any n-gram (``(count-1) * ngram_word_chars`` summed) over total
      word characters.  NOTE: overlapping repeats are each counted (the
      paper deduplicates overlap with a sequential greedy scan, which has
      no order-free formulation; this variant upper-bounds it and is
      engine-exact).  Both n-gram families clamp at 1.0 — overlap
      counting can otherwise exceed the doc's characters.

    Words are whitespace-split (Gopher's unit); n-gram char length counts
    word characters only (no separators).  Documents with fewer than n
    words score 0.0 on the n-gram rules; NULL/empty text keeps its row
    with all-NULL fractions and ``keep_repetition`` false.

    Scale shape: every line/paragraph/dup-n-gram fraction is a PER-ROW
    higher-order expression (map-only, zero shuffle); only the top-n-gram
    coverage aggregates — one explode over 3 n-gram streams, one count
    shuffle keyed by (id, n, gram) with map-side combine, one per-(id, n)
    window, one rejoin on ``id_col``.  Everything is keyed by the doc id;
    no global state.
    """
    th = _merged_repetition_thresholds(thresholds)
    return _gopher_repetition_core(df, id_col, text_col, th)


def _gopher_repetition_core(
    df: DataFrame,
    id_col: str,
    text_col: str,
    th: dict[str, float],
    extra_base_cols: dict[str, Column] | None = None,
) -> DataFrame:
    """Body of :func:`gopher_repetition_table`.  ``extra_base_cols`` lets
    the fused :func:`gopher_keep_table` compute additional PER-ROW columns
    (e.g. the quality-rules keep flag) inside the same ``base`` projection
    — one doc scan instead of two — and carries them to the output
    unchanged (they ride the base side of the rejoin, never the exploded
    n-gram stream)."""
    txt = F.col(text_col)
    words = _ws_words(txt)
    n_words = F.size(words)
    char_count = _sum_lengths(words)
    r6 = lambda c: F.round(c, 6)

    def _dup_frac(arr: Column) -> Column:
        n = F.size(arr)
        return F.when(
            n > 0, r6((n - F.size(F.array_distinct(arr))) / n.cast("double"))
        )

    def _dup_char_frac(arr: Column) -> Column:
        tot = _sum_lengths(arr)
        return F.when(
            tot > 0,
            r6((tot - _sum_lengths(F.array_distinct(arr))) / tot.cast("double")),
        )

    lines = F.filter(F.split(txt, "\n"), lambda l: F.trim(l) != "")
    paras = F.filter(F.split(txt, "\n\n+"), lambda p: F.trim(p) != "")

    extra = extra_base_cols or {}
    base = df.select(
        F.col(id_col),
        char_count.alias("_cc"),
        n_words.alias("_nw"),
        _dup_frac(lines).alias("dup_line_frac"),
        _dup_frac(paras).alias("dup_para_frac"),
        _dup_char_frac(lines).alias("dup_line_char_frac"),
        _dup_char_frac(paras).alias("dup_para_char_frac"),
        *[c.alias(name) for name, c in extra.items()],
    )

    # every n-gram fraction (top AND dup) comes from ONE exploded stream:
    # each n-gram array is built exactly once per row (interpreted HOF
    # passes were the dominant per-row cost), and the stream carries
    # (n, xxhash64(gram), word_chars) — NEVER the gram string.  Shuffling
    # raw n-gram strings measured SUPERLINEAR at 10x corpus (the 9-stream
    # string shuffle spills); the hashed stream is a fixed 20 bytes/gram.
    # r11: the internal gram hash is native xxhash64 (one codegen'd
    # 64-bit hash) instead of md5->hex->substring->conv — the hash only
    # keys the in-plan grouping, never the output or the oracle (which
    # groups exact strings), so swapping it is result-identical while
    # dropping a 32-char string allocation + base conversion per gram;
    # the doc-level _cc no longer rides the exploded stream either (it
    # re-derives from `base` after the rejoin — same expression, same
    # values), shaving 8 bytes/gram plus two first() aggregates off the
    # count shuffle (guide §2.3: shuffle fewer bytes).
    # The output only needs each winner's (count, word_chars) pair — the
    # published fraction is count*chars/cc and ties beyond (count desc,
    # chars desc) cannot change it — so the top winner is a max(struct)
    # aggregate, not a window, and both families pivot in ONE groupBy(id).
    # dup chars: sum over distinct grams of (count-1)*word_chars ==
    # sum_all - sum_distinct of the per-row formulation.  A 64-bit
    # collision inside one (doc, n) group would merge two counts
    # (P ~ grams^2/2^65 per doc — negligible, and the oracle's exact
    # string grouping would flag it as a mismatch).
    def _tagged(n: int):
        return F.coalesce(
            F.transform(
                _word_ngrams(words, n),
                lambda g: F.struct(
                    F.lit(n).alias("n"),
                    F.xxhash64(g).alias("h"),
                    (F.length(g) - (n - 1)).alias("l"),
                ),
            ),
            F.array().cast("array<struct<n:int,h:bigint,l:int>>"),
        )

    all_ns = (*_TOP_NGRAM_NS, *_DUP_NGRAM_NS)
    ex = df.select(
        F.col(id_col),
        F.explode(F.flatten(F.array(*[_tagged(n) for n in all_ns]))).alias("_t"),
    ).select(
        id_col,
        F.col("_t.n").alias("_n"), F.col("_t.h").alias("_h"),
        F.col("_t.l").alias("_l"),
    )
    cnt = ex.groupBy(id_col, "_n", "_h").agg(
        F.count("*").alias("_c"), F.first("_l").alias("_l"),
    )
    # only actually-repeated n-grams matter for BOTH families (a count-1
    # n-gram is not repetition; it also contributes 0 dup chars)
    rep = cnt.filter(F.col("_c") >= 2)
    stats = rep.groupBy(id_col).agg(
        *[
            F.max(
                F.when(
                    F.col("_n") == n, F.struct(F.col("_c"), F.col("_l"))
                )
            ).alias(f"_w{n}")
            for n in _TOP_NGRAM_NS
        ],
        *[
            F.sum(
                F.when(F.col("_n") == n, (F.col("_c") - 1) * F.col("_l"))
            ).alias(f"_dup{n}")
            for n in _DUP_NGRAM_NS
        ],
    )
    out = base.join(stats, id_col, "left")
    out = out.withColumns(
        {
            # isNotNull guard: least() SKIPS nulls, so a missing winner
            # would otherwise collapse least(1.0, NULL) to 1.0.  _cc here
            # is base's doc char count — the same expression the stream
            # used to carry per gram.
            f"_top{n}": F.when(
                F.col(f"_w{n}").isNotNull(),
                F.round(
                    F.least(
                        F.lit(1.0),
                        F.col(f"_w{n}._c")
                        * F.col(f"_w{n}._l")
                        / F.col("_cc").cast("double"),
                    ),
                    6,
                ),
            )
            for n in _TOP_NGRAM_NS
        }
    )
    cc_bad = F.col("_cc").isNull() | (F.col("_cc") <= 0)
    final_cols = {
        name: F.col(name)
        for name in (
            "dup_line_frac", "dup_para_frac",
            "dup_line_char_frac", "dup_para_char_frac",
        )
    }
    for n in _TOP_NGRAM_NS:
        final_cols[f"top_{n}gram_char_frac"] = F.when(
            cc_bad, F.lit(None).cast("double")
        ).otherwise(F.coalesce(F.col(f"_top{n}"), F.lit(0.0)))
    for n in _DUP_NGRAM_NS:
        # least(1,..): overlapping repeats are each counted, so the raw sum
        # can exceed the doc's characters — clamp to keep it a fraction
        final_cols[f"dup_{n}gram_char_frac"] = F.when(
            cc_bad, F.lit(None).cast("double")
        ).otherwise(
            r6(
                F.least(
                    F.lit(1.0),
                    F.coalesce(F.col(f"_dup{n}"), F.lit(0)).cast("double")
                    / F.col("_cc").cast("double"),
                )
            )
        )
    frac_names = (
        ["dup_line_frac", "dup_para_frac", "dup_line_char_frac", "dup_para_char_frac"]
        + [f"top_{n}gram_char_frac" for n in _TOP_NGRAM_NS]
        + [f"dup_{n}gram_char_frac" for n in _DUP_NGRAM_NS]
    )
    keep = F.lit(True)
    for name in frac_names:
        keep = keep & (final_cols[name] <= float(th[name]))
    return out.select(
        F.col(id_col),
        *[final_cols[name].alias(name) for name in frac_names],
        F.coalesce(keep, F.lit(False)).alias("keep_repetition"),
        *extra,
    )


def gopher_keep_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    rules_kwargs: dict | None = None,
    repetition_thresholds: dict[str, float] | None = None,
) -> DataFrame:
    """The FUSED Gopher filter: ``(id, keep_rules, keep_repetition,
    keep)`` where ``keep`` = :func:`gopher_rules_table`'s quality rules
    AND :func:`gopher_repetition_table`'s repetition rules — the complete
    published Gopher document filter as one call.

    r11 fusion: the quality-rules keep flag is computed as an extra
    per-row column of the repetition table's own ``base`` projection
    (:func:`_gopher_rule_cols` — the exact expressions
    :func:`gopher_rules_table` selects), so the whole filter costs ONE
    heavy-HOF doc scan + the n-gram stream and ONE rejoin, instead of a
    second full rules scan and a second doc-id equi-join."""
    th = _merged_repetition_thresholds(repetition_thresholds)
    keep_rules = _gopher_rule_cols(F.col(text_col), **(rules_kwargs or {}))["keep"]
    out = _gopher_repetition_core(
        df, id_col, text_col, th, extra_base_cols={"keep_rules": keep_rules}
    )
    return out.select(
        F.col(id_col),
        "keep_rules",
        "keep_repetition",
        (F.col("keep_rules") & F.col("keep_repetition")).alias("keep"),
    )


def corpus_profile(
    df: DataFrame,
    group_col: str,
    text_col: str,
    quality_col: str | None = None,
) -> DataFrame:
    """Per-group corpus observability rollup — the "data card" numbers a
    curation pipeline reports per source/domain/language shard:
    ``(group, n_docs, n_empty, total_tokens, total_chars, avg_tokens,
    avg_quality)``.

    ONE map-side-combined aggregate over the corpus (counts and sums
    partial-combine; output is n_groups rows), so the rollup costs a
    single bounded shuffle at any scale.  ``avg_quality`` uses
    ``quality_col`` if given, else :func:`quality_score` computed
    in-flight; averages are rounded to 6dp (sum order over doubles is the
    only engine-variant step; integer counts/sums are exact).
    """
    q = F.col(quality_col) if quality_col is not None else quality_score(F.col(text_col))
    nt = token_count(F.col(text_col))
    return (
        df.groupBy(F.col(group_col))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(
                    F.col(text_col).isNull() | (F.length(text_col) == 0), 1
                ).otherwise(0)
            ).cast("long").alias("n_empty"),
            F.sum(F.greatest(nt, F.lit(0))).cast("long").alias("total_tokens"),
            F.sum(F.coalesce(F.length(text_col), F.lit(0))).cast("long").alias("total_chars"),
            F.round(F.avg(F.greatest(nt, F.lit(0))), 6).alias("avg_tokens"),
            F.round(F.avg(q), 6).alias("avg_quality"),
        )
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_tokens: int = 256,
    overlap: int = 0,
) -> DataFrame:
    """Split documents into fixed-size token-window chunks — the
    training-sample / RAG-passage preparation step (every pretraining
    pipeline chunks long documents before packing; every retrieval
    pipeline chunks before embedding): ``(id_col, chunk_id int, n_tokens
    int, chunk string)``, chunk text rebuilt by joining the window's
    tokens with single spaces (the engine's whitespace-normalized token
    convention — byte-offset-preserving chunking would need the raw
    offsets a tokenizer UDF provides).

    Unlike :func:`...sampling.pack_sequences` (which packs a GLOBAL
    stream across documents and needs the distributed prefix sum), the
    window here is per-document, so the whole operator is ONE map-only
    projection: ``sequence`` over the chunk starts + ``explode`` +
    ``slice`` — no shuffle, no state; at 100 TB it's a pure scan.

    ``overlap`` tokens are shared between consecutive chunks (stride =
    ``chunk_tokens - overlap``); the final chunk may be short, and a
    short-but-nonempty document yields exactly one chunk.  Zero-token /
    NULL docs yield no rows (the explode-drops-empty convention of
    the dedup rebuilds).
    """
    if chunk_tokens < 1:
        raise ValueError("chunk_tokens must be >= 1")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("overlap must be in [0, chunk_tokens)")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    # chunk starts (1-based for slice): 1, 1+stride, ...; a start whose
    # window would END no further right than the previous chunk's (i.e.
    # start > n - chunk_tokens + stride) adds only already-covered
    # tokens and is not generated — so the last chunk may be short but
    # never redundant, and every token is covered exactly once per
    # window it belongs to
    last_start = F.greatest(F.lit(1), n - F.lit(chunk_tokens) + F.lit(stride))
    starts = F.when(n > 0, F.sequence(F.lit(1), last_start, F.lit(stride)))
    exploded = (
        df.select(F.col(id_col), toks.alias("_t"), starts.alias("_ss"))
        .select(
            id_col,
            "_t",
            F.posexplode("_ss").alias("chunk_id", "_start"),
        )
    )
    piece = F.slice(F.col("_t"), F.col("_start"), chunk_tokens)
    return exploded.select(
        F.col(id_col),
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.size(piece).cast("int").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk"),
    )


def top_terms(
    df: DataFrame,
    group_col: str,
    text_col: str,
    k: int = 10,
) -> DataFrame:
    """Top-k most frequent tokens per group — corpus vocabulary
    analysis per source/language shard: ``(group, token, n long, rank
    int)``, ties broken by token ascending (deterministic, engine-
    portable).

    Scale shape: explode + ONE map-side-combined ``(group, token)``
    count shuffle (output bounded by per-group vocabulary), then the
    top-k window partitioned BY GROUP over those counts — the window
    input is the aggregated vocabulary, never the corpus, so a viral
    token cannot funnel corpus rows into one task.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    counts = (
        df.select(F.col(group_col), F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy(group_col, "token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("n"), F.asc("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(group_col, "token", F.col("n").cast("long").alias("n"),
                F.col("rank").cast("int").alias("rank"))
    )


def blocked_terms_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: "Sequence[str] | DataFrame",
    term_col: str = "term",
) -> DataFrame:
    """Blocklist/badwords screening (the C4 "bad words" curation step —
    Raffel et al. 2020 §2.2 drop any page containing a listed word):
    ``(id, n_tokens int, n_blocked int, blocked_ratio double, keep
    boolean)`` per document, ``keep = (n_blocked == 0)``.  Tokens follow
    the corpus-wide lowercase ``[^a-z0-9]+`` convention, so the list
    entries must be lowercase single tokens (validated).

    Two shapes, picked by the ``terms`` argument:

    - **Literal list** (the common case — C4's list is ~450 terms per
      language): ONE map-only projection; membership compiles to a
      codegen hash-set probe (``isin`` over >threshold elements plans as
      ``InSet``), zero shuffle, zero joins.  At 100 TB this screens at
      scan speed.
    - **DataFrame** (list too big / not driver-resident — e.g. a
      many-million-entry URL-token blocklist): explode tokens once,
      broadcast LEFT join against the list, ONE map-side-combined
      re-aggregate keyed by the document id.  The join is map-side
      (broadcast), so the only shuffle is the bounded per-doc rollup.

    Both shapes count token OCCURRENCES (a doc repeating one blocked
    term 5 times reports ``n_blocked=5``) — ratio thresholds then mean
    "fraction of the text", not "fraction of the list".  NULL text counts
    as empty (0 tokens, keep=true) so nullable corpora never emit NULL
    keep flags into a downstream filter.
    """
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    if isinstance(terms, DataFrame):
        term_list = F.broadcast(
            terms.select(F.col(term_col).cast("string").alias("_term")).distinct()
        )
        ex = df.select(
            F.col(id_col),
            F.size(toks).cast("int").alias("n_tokens"),
            F.explode_outer(toks).alias("_tok"),
        )
        hits = ex.join(term_list, ex["_tok"] == term_list["_term"], "left")
        out = hits.groupBy(id_col, "n_tokens").agg(
            F.count("_term").cast("int").alias("n_blocked")
        )
    else:
        terms = list(terms)
        bad = [t for t in terms if not t or t != t.lower() or not t.isascii()]
        if bad or not terms:
            raise ValueError(
                f"blocklist terms must be non-empty lowercase ascii tokens; "
                f"got {bad[:5]!r}" if bad else "empty blocklist"
            )
        out = df.select(
            F.col(id_col),
            F.size(toks).cast("int").alias("n_tokens"),
            F.size(F.filter(toks, lambda t: t.isin(*terms)))
            .cast("int")
            .alias("n_blocked"),
        )
    return out.select(
        id_col,
        "n_tokens",
        "n_blocked",
        F.when(
            F.col("n_tokens") > 0,
            F.round(F.col("n_blocked") / F.col("n_tokens").cast("double"), 6),
        ).alias("blocked_ratio"),
        (F.col("n_blocked") == 0).alias("keep"),
    )


# C4 line-filter policy phrases (Raffel et al. 2020 §2.2 / the official
# TensorFlow-datasets c4_utils.py line filter — public).  Single source
# of truth: the operator AND any generated oracle read this tuple.
C4_POLICY_PHRASES: tuple[str, ...] = (
    "terms of use",
    "privacy policy",
    "cookie policy",
    "uses cookies",
    "use of cookies",
    "use cookies",
)

# terminal marks a retained line must end with (c4_utils._END_MARKS)
C4_END_MARKS = '[.!?"]$'


def _c4_validate(
    min_words_per_line: int,
    min_sentences: int,
    policy_phrases: "tuple[str, ...]",
) -> None:
    if min_words_per_line < 1:
        raise ValueError("min_words_per_line must be >= 1")
    if min_sentences < 0:
        raise ValueError("min_sentences must be >= 0")
    for p in policy_phrases:
        if not p or p != p.lower():
            raise ValueError(
                f"policy phrases must be non-empty lowercase: {p!r}"
            )


def c4_retained_lines(
    c: Column,
    min_words_per_line: int = 5,
    policy_phrases: "tuple[str, ...]" = C4_POLICY_PHRASES,
) -> Column:
    """``array<string>`` of the whitespace-trimmed lines of ``c`` that
    survive C4's line filter (terminal ``. ! ? "`` mark, NOT an ellipsis
    ``...`` ending, at least ``min_words_per_line`` whitespace-words, no
    "javascript" / policy phrase, case-insensitive).  Pure HOF/regex
    expression — the shared core of :func:`c4_rules_table` and the
    ``c4_clean`` streaming stage.  NULL text behaves as empty text
    (nothing retained).  The ellipsis exclusion mirrors the official
    ``c4_utils.py``, which drops ``line.endswith('...')`` even though
    the final ``.`` satisfies the terminal-mark check."""
    lines = F.transform(
        F.split(F.coalesce(c, F.lit("")), "\n"),
        lambda l: F.regexp_replace(l, r"^\s+|\s+$", ""),
    )

    def _retain(t: Column) -> Column:
        lt = F.lower(t)
        word_ok = (
            F.size(F.filter(F.split(t, r"\s+"), lambda w: w != ""))
            >= min_words_per_line
        )
        phrase_bad = F.lit(False)
        for p in ("javascript", *policy_phrases):
            phrase_bad = phrase_bad | lt.contains(p)
        return (
            t.rlike(C4_END_MARKS)
            & ~t.endswith("...")
            & word_ok
            & ~phrase_bad
        )

    return F.filter(lines, _retain)


def c4_page_keep(
    text: Column, kept_text: Column, min_sentences: int = 5
) -> Column:
    """C4's page-level verdict given the ORIGINAL text and the retained
    text: no "lorem ipsum", no curly brace, and at least ``min_sentences``
    terminal marks in the retained text.  NULL-safe (NULL text = drop)."""
    txt = F.coalesce(text, F.lit(""))
    n_sentences = F.regexp_count(F.coalesce(kept_text, F.lit("")),
                                 F.lit("[.!?]"))
    return (
        ~F.lower(txt).contains("lorem ipsum")
        & ~txt.contains("{")
        & (n_sentences >= min_sentences)
    )


def c4_rules_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_words_per_line: int = 5,
    min_sentences: int = 5,
    policy_phrases: "tuple[str, ...]" = C4_POLICY_PHRASES,
) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020 §2.2, as pinned down by
    the public ``c4_utils.py`` reference implementation) as ONE map-only
    projection — the third canonical web-curation rule set beside
    :func:`gopher_rules_table` / :func:`gopher_repetition_table` and
    :func:`blocked_terms_table` (which covers C4's badwords step; its
    URL-dedup step is ``operators.dedup.drop_url_duplicates``).

    Line level (lines = ``\\n``-split, whitespace-trimmed): a line is
    RETAINED iff it ends in a terminal mark (``. ! ? "``) but not in an
    ellipsis ``...``, has at least ``min_words_per_line``
    whitespace-words (official default 5), and contains neither the
    word "javascript" nor any ``policy_phrases`` entry
    (case-insensitive).  Page level: the page is KEPT iff its text
    contains no "lorem ipsum" and no curly brace ``{``, and the retained
    text has at least ``min_sentences`` sentences (official default 5;
    the paper's prose says 3).  Sentences are counted as terminal-mark
    occurrences in the retained text — a regex simplification of the
    reference's NLTK splitter, documented so both engines agree exactly.

    Output per input row: ``(id, n_lines int, n_lines_kept int,
    n_sentences int, has_lorem bool, has_curly bool, keep bool,
    kept_text string)``.  NULL text behaves as empty text (one empty
    line, nothing retained, ``keep=false``).  No aggregation, no
    shuffle, no UDFs: every rule is a higher-order-function / regex
    expression, so the filter pushes to the scan at any corpus size.
    """
    _c4_validate(min_words_per_line, min_sentences, policy_phrases)
    txt = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(txt, "\n")
    kept = c4_retained_lines(
        F.col(text_col), min_words_per_line, policy_phrases
    )
    kept_text = F.array_join(kept, "\n")
    n_sentences = F.regexp_count(kept_text, F.lit("[.!?]"))
    has_lorem = F.lower(txt).contains("lorem ipsum")
    has_curly = txt.contains("{")
    keep = c4_page_keep(F.col(text_col), kept_text, min_sentences)
    return df.select(
        F.col(id_col),
        F.size(lines).cast("int").alias("n_lines"),
        F.size(kept).cast("int").alias("n_lines_kept"),
        n_sentences.cast("int").alias("n_sentences"),
        has_lorem.alias("has_lorem"),
        has_curly.alias("has_curly"),
        keep.alias("keep"),
        kept_text.alias("kept_text"),
    )


# RefinedWeb line-wise correction rules (Penedo et al. 2023 §G.2 — the
# fourth canonical web-curation rule set beside Gopher, C4, and the
# badwords blocklist).  The paper's prose names the rule FAMILIES
# ("mainly uppercase", "only numerical", "a counter, e.g. 3 likes",
# "only one word") without exact thresholds; the constants below PIN a
# deterministic instantiation, and the contract oracle is GENERATED
# from them so the operator and any SQL engine agree exactly.
RW_COUNTER_WORDS: tuple[str, ...] = (
    "like", "share", "comment", "view", "vote", "reply", "repost",
    "follower", "retweet", "upvote", "point", "subscriber",
)
RW_MAX_UPPER_FRAC = 0.6       # uppercase letters / letters, strictly above
RW_MAX_REMOVED_FRAC = 0.05    # removed chars / total chars, strictly above
# digits plus digit-punctuation only (at least one digit)
RW_NUMERIC_RE = r"^[0-9\s.,:%/\-]*[0-9][0-9\s.,:%/\-]*$"


def _rw_counter_re(words: "tuple[str, ...]") -> str:
    return r"^[0-9]+\s+(" + "|".join(words) + r")s?$"


def refinedweb_line_removed(
    line: Column,
    max_upper_frac: float = RW_MAX_UPPER_FRAC,
    counter_words: "tuple[str, ...]" = RW_COUNTER_WORDS,
) -> Column:
    """True iff RefinedWeb's line-wise corrections REMOVE the (already
    whitespace-trimmed) line: mainly uppercase (uppercase letters more
    than ``max_upper_frac`` of letters — compared in integer micro-units
    so the float threshold cannot ulp-flip between engines), only
    numerical characters (:data:`RW_NUMERIC_RE`), a social counter
    ("3 likes"), or a single word.  Empty lines are KEPT (they are
    document structure, not content to correct)."""
    n_alpha = F.length(F.regexp_replace(line, r"[^\p{L}]", ""))
    n_upper = F.length(F.regexp_replace(line, r"[^\p{Lu}]", ""))
    thr_micro = int(round(max_upper_frac * 1_000_000))
    mainly_upper = (n_alpha > 0) & (
        n_upper * F.lit(1_000_000).cast("long") > F.lit(thr_micro) * n_alpha
    )
    numeric_only = line.rlike(RW_NUMERIC_RE)
    counter = F.lower(line).rlike(_rw_counter_re(counter_words))
    one_word = line.rlike(r"^\S+$")
    return mainly_upper | numeric_only | counter | one_word


def _rw_validate(
    max_upper_frac: float,
    max_removed_frac: float,
    counter_words: "tuple[str, ...]",
) -> None:
    if not 0 < max_upper_frac <= 1:
        raise ValueError("max_upper_frac must be in (0, 1]")
    if not 0 <= max_removed_frac <= 1:
        raise ValueError("max_removed_frac must be in [0, 1]")
    for w in counter_words:
        if not w or w != w.lower() or not w.isalpha():
            raise ValueError(
                f"counter words must be non-empty lowercase alphabetic: {w!r}"
            )


def refinedweb_kept_lines(
    c: Column,
    max_upper_frac: float = RW_MAX_UPPER_FRAC,
    counter_words: "tuple[str, ...]" = RW_COUNTER_WORDS,
) -> Column:
    """``array<string>`` of the ORIGINAL ``\\n``-split lines of ``c``
    that survive the RefinedWeb line rules (judged on the trimmed line;
    blank lines are structure and stay).  The shared core of
    :func:`refinedweb_lines_table` and the ``rw_clean`` stage of both
    curation front-doors.  NULL text behaves as empty text."""
    lines = F.split(F.coalesce(c, F.lit("")), "\n")

    def removed(l: Column) -> Column:
        t = F.regexp_replace(l, r"^\s+|\s+$", "")
        return (F.length(t) > 0) & refinedweb_line_removed(
            t, max_upper_frac, counter_words
        )

    return F.filter(lines, lambda l: ~removed(l))


def refinedweb_page_keep(
    text: Column, kept_text: Column, max_removed_frac: float = RW_MAX_REMOVED_FRAC
) -> Column:
    """RefinedWeb's document verdict given the ORIGINAL text and the
    joined kept lines: keep iff removed lines account for at most
    ``max_removed_frac`` of the document's characters.  Char counts
    exclude newlines on both sides, so the comparison is the pure
    integer ``removed * 1e6 <= round(frac * 1e6) * total`` — no float
    division.  NULL-safe (NULL text = empty = kept)."""
    txt = F.coalesce(text, F.lit(""))
    n_chars = F.length(F.regexp_replace(txt, "\n", "")).cast("long")
    # both counts = non-newline chars, so separators cancel exactly
    n_kept = F.length(
        F.regexp_replace(F.coalesce(kept_text, F.lit("")), "\n", "")
    ).cast("long")
    frac_micro = int(round(max_removed_frac * 1_000_000))
    return (n_chars - n_kept) * F.lit(1_000_000).cast("long") <= (
        F.lit(frac_micro).cast("long") * n_chars
    )


def refinedweb_lines_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_upper_frac: float = RW_MAX_UPPER_FRAC,
    max_removed_frac: float = RW_MAX_REMOVED_FRAC,
    counter_words: "tuple[str, ...]" = RW_COUNTER_WORDS,
) -> DataFrame:
    """RefinedWeb's line-wise corrections as ONE map-only projection:
    drop uppercase-dominated / numeric-only / counter / one-word lines
    (judged on the trimmed line; surviving lines keep their ORIGINAL
    text), then drop the whole DOCUMENT when the removed lines account
    for more than ``max_removed_frac`` of its characters (the paper's
    "if modifications affect more than 5% of the document, remove it").

    Output per input row: ``(id, n_lines int, n_lines_removed int,
    n_chars long, n_chars_removed long, keep boolean, cleaned_text
    string)``.  Char counts are over the raw ``\\n``-split lines
    (newlines excluded), so ``keep`` is the INTEGER comparison
    ``n_chars_removed * 1e6 <= round(max_removed_frac * 1e6) * n_chars``
    — no float division anywhere, hence no cross-engine rounding
    surface.  NULL text behaves as empty text (one empty line, nothing
    removed, ``keep=true`` — an empty page is a page the rules did not
    touch; compose with Gopher/C4/quality gates to drop empties).

    Scale shape: every rule is a regex / higher-order-function
    expression over the line array — no explode, no aggregation, no
    shuffle, no UDF; the projection pushes to the scan and whole-stage
    codegen at any corpus size, exactly like :func:`c4_rules_table` and
    :func:`gopher_rules_table`.
    """
    _rw_validate(max_upper_frac, max_removed_frac, counter_words)
    txt = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(txt, "\n")
    kept = refinedweb_kept_lines(
        F.col(text_col), max_upper_frac, counter_words
    )
    n_chars = _sum_lengths(lines)
    n_chars_kept = _sum_lengths(kept)
    n_removed_chars = (n_chars - n_chars_kept).alias("n_chars_removed")
    frac_micro = int(round(max_removed_frac * 1_000_000))
    keep = (n_chars - n_chars_kept) * F.lit(1_000_000).cast("long") <= (
        F.lit(frac_micro).cast("long") * n_chars
    )
    return df.select(
        F.col(id_col),
        F.size(lines).cast("int").alias("n_lines"),
        (F.size(lines) - F.size(kept)).cast("int").alias("n_lines_removed"),
        n_chars.alias("n_chars"),
        n_removed_chars,
        keep.alias("keep"),
        F.array_join(kept, "\n").alias("cleaned_text"),
    )
