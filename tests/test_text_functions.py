"""Unit tests for text-analysis functions (functions/text.py)."""

import random
import re
from pathlib import Path

from pyspark.sql import functions as F

from entitymatchingmodel_spark.functions.text import (
    CHAR_TRIGRAM_PROFILES,
    repetition_stats,
)


def ref(text):
    """Plain-Python char-trigram scorer: normalize -> overlapping trigrams
    -> per-profile occurrence counts -> argmax with alphabetical
    tie-break; ``('und', 0, n)`` when nothing hits, NULL counts as empty
    text.  The semantics every package shape and the DuckDB oracle
    share."""
    s = " " + re.sub(r"[^a-z]+", " ", (text or "").lower()).strip() + " "
    grams = [s[i:i + 3] for i in range(max(0, len(s) - 2))]
    hits = {
        lang: sum(g in set(prof) for g in grams)
        for lang, prof in CHAR_TRIGRAM_PROFILES.items()
    }
    best = max(hits.values())
    lang = "und" if best == 0 else min(l for l, h in hits.items() if h == best)
    return (lang, best, len(grams))


def _random_strings(seed):
    """150 seeded adversarial strings, every third salted with profile
    fragments so hits actually occur."""
    rng = random.Random(seed)
    alphabet = "abcdefghijklmnopqrstuvwxyz  .,;-0189éÄß"
    frags = ["the", "der", "que", "van", "cao", "zio", "ing", "sch", " de"]
    cases = []
    for i in range(150):
        n = rng.randint(0, 40)
        s = "".join(rng.choice(alphabet) for _ in range(n))
        if i % 3 == 0:
            for _ in range(rng.randint(1, 4)):
                p = rng.randint(0, len(s))
                s = s[:p] + rng.choice(frags) + s[p:]
        cases.append((i, s))
    return cases


def _shape_rows(df, id_col="doc_id"):
    """(kernel, join, table) score dicts id -> (lang, hits, n_trigrams)."""
    from entitymatchingmodel_spark.functions.text import (
        lang_id_join_table,
        lang_id_table,
        lang_scores_kernel,
    )

    def rows(t):
        return {r[id_col]: (r["lang"], r["hits"], r["n_trigrams"])
                for r in t.collect()}

    kernel = {r[id_col]: tuple(r["s"]) for r in
              df.select(id_col, lang_scores_kernel(F.col("text")).alias("s"))
              .collect()}
    return (kernel, rows(lang_id_join_table(df, id_col, "text")),
            rows(lang_id_table(df, id_col, "text")))


def test_repetition_stats_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b c"),   # 5 tokens, 3 unique; top bigram "a b" x2
            (2, "x"),           # single token: no bigrams
            (3, ""),            # empty
            (4, "w w w w"),     # maximal repetition: "w w" x3 of 4 tokens
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}
    assert rows[1]["dup_token_ratio"] == 0.4          # 1 - 3/5
    assert rows[1]["top_bigram_ratio"] == 0.8         # 2*2/5
    assert rows[2]["dup_token_ratio"] == 0.0
    assert rows[2]["top_bigram_ratio"] == 0.0
    assert rows[3]["dup_token_ratio"] == 0.0
    assert rows[3]["top_bigram_ratio"] == 0.0
    assert rows[4]["dup_token_ratio"] == 0.75         # 1 - 1/4
    assert rows[4]["top_bigram_ratio"] == 1.5         # 2*3/4 (overlapping)


def test_bpe_token_count_hand_cases(spark):
    from entitymatchingmodel_spark.functions.text import bpe_token_count
    from pyspark.sql import functions as F

    cases = [
        ("Hello world, it's 2024!", 7),  # Hello/ world/,/ it/'s/ 2024/!
        ("foo", 1),
        ("", 0),
        ("a  b", 3),  # letter run, whitespace run, letter run
    ]
    df = spark.createDataFrame(cases, "text string, expected int")
    out = df.select("expected", bpe_token_count(F.col("text")).alias("got")).collect()
    for r in out:
        assert r["got"] == r["expected"], r


def test_lang_id_kernel_detects_planted_languages(spark):
    """Char-trigram profile scorer: correct language on short natural
    sentences in the profiled languages; 'und' on empty/NULL/
    non-language input (NULL counts as empty text in both engines)."""
    from entitymatchingmodel_spark.functions.text import (
        lang_id_kernel,
        lang_scores_kernel,
    )

    rows = [
        (1, "The quick brown fox jumps over the lazy dog and runs to the river.", "en"),
        (2, "Der schnelle braune Fuchs springt über den faulen Hund und rennt durch den Wald.", "de"),
        (3, "Le renard brun rapide saute par-dessus le chien paresseux que nous aimons.", "fr"),
        (4, "El zorro marrón rápido salta sobre el perro perezoso que tenemos en el campo.", "es"),
        (5, "La volpe marrone veloce salta sopra il cane pigro nella foresta della città.", "it"),
        (6, "", "und"),
        (7, None, "und"),
        (8, "zzz qqq xxx", "und"),
        (9, "De snelle bruine vos springt over de luie hond en rent door het bos van een boer.", "nl"),
        (10, "A raposa marrom rapida salta sobre o cao preguicoso e corre para o rio que temos do campo.", "pt"),
        # r7 languages (sentences in plain ascii — the normalizer turns
        # accented letters into spaces, so profiles key on the ascii residue)
        (11, "Den snabba raven hoppar over den lata hunden och springer till skogen som vi har sett.", "sv"),
        (12, "Den hurtige raev hopper over den dovne hund og lober til skoven for at finde mad der.", "da"),
        (13, "Szybki lis skacze przez leniwego psa i biegnie do lasu ktorego nie znamy od dawna.", "pl"),
        (14, "Hizli tilki tembel kopegin uzerinden atlar ve ormana dogru kosar bir daha gelmez.", "tr"),
        (15, "Vulpea rapida sare peste cainele lenes si alearga spre padurea pe care o stim de mult.", "ro"),
        (16, "Nopea kettu hyppaa laiskan koiran yli ja juoksee metsaan jota emme ole koskaan nahneet.", "fi"),
        # r7 second tranche
        (17, "Rubah cepat yang melompat dan berlari dengan anjing untuk pergi ke hutan yang tidak kita kenal.", "id"),
        (18, "Rychla liska skace pres lineho psa a bezi do lesa ktery pro nas neni znamy a je pod kopcem.", "cs"),
        (19, "Az okos roka atugrik a lusta kutya felett es nem szalad az erdobe hogy egy nap meg lassuk.", "hu"),
        # r8 tranche (no/vi/ca/sk/hr)
        (20, "Den raske reven og hunden ble ikke som andre og lober fra skogen til vannet av en grunn som han har.", "no"),
        (21, "Con cao nhanh nhay qua con cho luoi va chay vao trong rung cua chung ta khong ai biet duoc ngay nay.", "vi"),
        (22, "La guineu rapida salta per sobre dels gossos mandrosos i corre cap al bosc que tenim amb els amics.", "ca"),
        (23, "Ako rychla liska pre nas skace cez psa do lesa ktory sa vola stary a nie je znamy v tych miestach ktore mame.", "sk"),
        (24, "Brza lisica skace preko lijenog psa koji se ne da i bit ce da ima sto na putu ali se ne zna je li to sve.", "hr"),
        # r9 tranche (sl/et/lv/lt/sw)
        (25, "Hitra lisica skace kot pes in tudi tako se pri tem ne ustavi da bi sla v gozd ki ga ne poznamo tudi mi.", "sl"),
        (26, "Kiire rebane hyppab ule laisa koera ja jookseb metsa kui keegi oma teed ei tea ja ise on vaga kiire.", "et"),
        (27, "Atri lapsa lec pari slinkajam sunim un skrien uz mezu kas mums nav zinams un par tiem vai tas ir labi.", "lv"),
        (28, "Greita lape sokineja per tinginio suni ir begа i miska kad kaip tai yra zinoma bet ne mums ir jiems.", "lt"),
        (29, "Mbweha mwepesi anaruka juu ya mbwa mvivu na kukimbia katika msitu kwa sababu ya chakula cha wanyama wa pori.", "sw"),
    ]
    df = spark.createDataFrame(rows, "id long, text string, want string")
    got = df.select("id", "want", lang_id_kernel(F.col("text")).alias("lang")).collect()
    for r in got:
        assert r["lang"] == r["want"], (r["id"], r["lang"], r["want"])
    # NULL input == empty text: identical full score struct
    s = {r["id"]: tuple(r["s"]) for r in
         df.filter(F.col("id").isin(6, 7))
           .select("id", lang_scores_kernel(F.col("text")).alias("s")).collect()}
    assert s[6] == s[7] == ("und", 0, 0), s


def test_lang_id_kernel_tie_breaks_alphabetically(spark):
    """Equal profile hits resolve to the alphabetically-first language —
    the deterministic contract the DuckDB oracle's CASE chain mirrors —
    in the kernel and in the join shape."""

    # 'xde' -> trigrams ' xd', 'xde', 'de '; 'de ' is in several profiles
    # (da/es/fr/... but NOT the alphabetically-first de) and nothing else
    # matches -> exact multi-way tie at 1 hit, resolved to the
    # alphabetically-first holder, 'da'
    assert "de " in CHAR_TRIGRAM_PROFILES["da"] and "de " in CHAR_TRIGRAM_PROFILES["es"]
    assert "de " not in CHAR_TRIGRAM_PROFILES["de"]
    assert not any("xd" in t for p in CHAR_TRIGRAM_PROFILES.values() for t in p)
    df = spark.createDataFrame([(1, "xde")], "doc_id long, text string")
    kernel, joined, _ = _shape_rows(df)
    assert kernel[1] == joined[1] == ("da", 1, 3) == ref("xde")


def test_lang_scores_kernel_matches_python_reference(spark):
    """One batched Spark job over 150 adversarial random strings must agree
    exactly with the pure-Python reference of the scorer — pins the
    semantics the DuckDB oracle also mirrors."""
    cases = _random_strings(99)
    df = spark.createDataFrame(cases, "id long, text string")
    kernel, _, _ = _shape_rows(df, "id")
    for i, text in cases:
        assert kernel[i] == ref(text), (i, text, kernel[i], ref(text))


def test_text_stats_null_and_empty_docs_no_ansi_crash(spark):
    """Zero-token and NULL documents must NOT throw DIVIDE_BY_ZERO under
    Spark 4's default ANSI mode (one empty doc would kill a whole corpus
    job): ratio columns go NULL — the same answer DuckDB's lenient
    division gives, so the oracle stays exact on nullable corpora."""
    from entitymatchingmodel_spark.functions.text import quality_score, text_stats

    df = spark.createDataFrame(
        [(1, "alpha beta the gamma"), (2, None), (3, ""), (4, "...!!!")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text_stats(df, "doc_id", "text").collect()}
    assert set(rows) == {1, 2, 3, 4}, "every doc keeps a row"
    assert rows[1]["stopword_ratio"] == 0.25
    for d in (2, 3, 4):
        assert rows[d]["stopword_ratio"] is None, d
        assert rows[d]["avg_token_len"] is None, d
    assert rows[3]["n_tokens"] == 0 and rows[2]["n_tokens"] is None
    # quality_score shares avg_token_len — must not crash either
    q = {r["doc_id"]: r["q"] for r in
         df.select("doc_id", quality_score(F.col("text")).alias("q")).collect()}
    assert q[3] == 0.0 and q[1] is not None


def test_lang_id_table_matches_column_api(spark):
    """The batch-table projection must produce exactly the Column-API
    kernel struct, and both the reference, on every corpus row."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    kernel, _, table = _shape_rows(docs)
    assert table == kernel and len(table) == len(texts)
    assert table == {i: ref(t) for i, t in texts.items()}


def _corpus_with_edges(spark):
    """Real corpus rows plus the edge cases (NULL, empty, sub-trigram,
    space-only, accents, digits-only, no-hit runs), and the reference
    score of every row."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    edge = spark.createDataFrame(
        [(9000001, None), (9000002, ""), (9000003, "ab"), (9000004, "   "),
         (9000005, "ÉÀÇ --- 1234 !!!"), (9000006, "x" * 2000),
         (9000007, "the quick brown fox and the lazy dog"),
         (9000008, "der herr der ringe ist ein gutes buch"),
         (9000009, "12345 !!!")],
        "doc_id long, text string",
    )
    df = docs.select("doc_id", "text").unionByName(edge)
    want = {r["doc_id"]: ref(r["text"]) for r in df.collect()}
    assert len(want) == df.count()
    return df, want


def test_lang_shapes_match_reference_on_corpus(spark):
    """The Arrow numpy kernel (lang_scores_kernel) and the broadcast-join
    shape (lang_id_join_table) must each equal the plain-Python reference
    on real corpus rows plus the edge cases — the lang_id contract rows
    check both against one DuckDB oracle, so any drift here is an oracle
    mismatch."""
    df, want = _corpus_with_edges(spark)
    kernel, joined, _ = _shape_rows(df)
    assert kernel == want
    assert joined == want


def test_lang_id_table_matches_reference_on_corpus(spark):
    """The table projection (lang_id_table, what the lang_id contract row
    requests) must equal the plain-Python reference on the same corpus
    and edge rows, NULL/empty/digits-only included."""
    from entitymatchingmodel_spark.functions.text import lang_id_table

    df, want = _corpus_with_edges(spark)
    table = {r["doc_id"]: (r["lang"], r["hits"], r["n_trigrams"])
             for r in lang_id_table(df, "doc_id", "text").collect()}
    assert table == want


def test_lang_shapes_match_reference_on_randomized_strings(spark):
    """The randomized-adversarial sweep of
    test_lang_scores_kernel_matches_python_reference at another seed,
    through all three shapes: 150 random strings (salted with profile
    fragments so hits occur) must score as the reference does."""
    cases = _random_strings(431)
    df = spark.createDataFrame(cases, "id long, text string")
    want = {i: ref(t) for i, t in cases}
    kernel, joined, table = _shape_rows(df, "id")
    assert kernel == want
    assert joined == want
    assert table == want


def test_blocked_terms_literal_hand_computed(spark):
    from entitymatchingmodel_spark.functions.text import blocked_terms_table

    df = spark.createDataFrame(
        [
            (1, "spam and more SPAM here"),   # occurrences counted, case-folded
            (2, "perfectly clean text"),
            (3, ""),                          # zero tokens
            (4, None),                        # null text
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: (r["n_tokens"], r["n_blocked"], r["blocked_ratio"], r["keep"])
           for r in blocked_terms_table(df, "doc_id", "text", ["spam", "junk"]).collect()}
    assert out[1] == (5, 2, 0.4, False)       # both 'spam' occurrences count
    assert out[2] == (3, 0, 0.0, True)
    assert out[3] == (0, 0, None, True)
    assert out[4] == (0, 0, None, True)


def test_blocked_terms_table_variant_matches_literal(spark):
    from entitymatchingmodel_spark.functions.text import blocked_terms_table

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    terms = ["spark", "slow", "dup"]
    lit_rows = sorted(
        blocked_terms_table(docs, "doc_id", "text", terms).collect())
    tdf = spark.createDataFrame([(t,) for t in terms], "term string")
    tab_rows = sorted(
        blocked_terms_table(docs, "doc_id", "text", tdf).collect())
    assert lit_rows == tab_rows


def test_blocked_terms_validation(spark):
    import pytest as _pytest
    from entitymatchingmodel_spark.functions.text import blocked_terms_table

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="lowercase"):
        blocked_terms_table(df, "doc_id", "text", ["Bad"])
    with _pytest.raises(ValueError, match="empty"):
        blocked_terms_table(df, "doc_id", "text", [])


def test_lang_phrases_witness_every_profile():
    """Every (lang, phrase) pair in the contract plant must have its
    scorer argmax equal to its language over the FULL profile set — the
    audit that catches a new profile silently flipping an old phrase's
    detection (the r8 sk profile did exactly that to the pt phrase; the
    lang_id row stayed oracle-EXACT throughout, so only this pairing
    check can see it).  Pure Python (the pinned scorer mirror), no
    Spark."""
    import importlib.util

    entry = Path(__file__).resolve().parent.parent / "__spark_entry__.py"
    spec = importlib.util.spec_from_file_location("entry_for_lang_test", str(entry))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    pairs = mod._LANG_PHRASE_PAIRS

    # one pair per profile, no orphans either way
    assert sorted(l for l, _ in pairs) == sorted(CHAR_TRIGRAM_PROFILES)

    bad = [(l, ref(p)[0]) for l, p in pairs if ref(p)[0] != l]
    assert not bad, f"phrases no longer witness their profile: {bad}"
