"""Vocabulary, extra-equality, and LEF features (SURVEY §2.10 M2-M4)."""

import pytest
from pyspark.sql import functions as F

from entitymatchingmodel_spark.operators.features import (
    Vocabulary,
    extra_equality_feature,
    lef_features,
    vocabulary_features,
)


def _literal_vocab(tiers):
    """The literal-array Vocabulary holding a fit_tiers table's tiers."""
    rows = tiers.collect()
    return Vocabulary(
        very_common=[r["token"] for r in rows if r["tier"] == 2],
        common=[r["token"] for r in rows if r["tier"] == 1],
    )


def test_vocabulary_fit_tiers(spark):
    # 'alpha' in 4/4 names (very common at 0.9), 'beta' in 2/4 (common at 0.4)
    df = spark.createDataFrame(
        [("alpha beta one",), ("alpha beta two",), ("alpha three",), ("alpha four",)],
        "preprocessed string",
    )
    tiers = Vocabulary.fit_tiers(
        df, ["preprocessed"], very_common_min_df=0.9, common_min_df=0.4
    )
    v = _literal_vocab(tiers)
    assert v.very_common == ["alpha"]
    assert v.common == ["beta"]


def test_vocabulary_features_values(spark):
    v = Vocabulary(very_common=["alpha"], common=["beta"])
    df = spark.createDataFrame(
        [("alpha beta corp", "alpha gamma corp")],
        "preprocessed string, gt_preprocessed string",
    )
    row = vocabulary_features(df, v).collect()[0]
    # hits: alpha(very), corp(rare); misses: beta(common), gamma(rare)
    assert row["f_very_common_hit"] == 1.0
    assert row["f_common_hit"] == 0.0
    assert row["f_rare_hit"] == 1.0
    assert row["f_very_common_miss"] == 0.0
    assert row["f_common_miss"] == 1.0
    assert row["f_rare_miss"] == 1.0
    assert row["f_n_overlap_words"] == 2.0
    assert row["f_ratio_overlap_words"] == 0.5
    assert row["f_num_word_difference"] == 0.0


def test_vocabulary_min_df_validation(spark):
    df = spark.createDataFrame([("x",)], "preprocessed string")
    with pytest.raises(ValueError, match="smaller"):
        Vocabulary.fit_tiers(df, ["preprocessed"], very_common_min_df=0.01, common_min_df=0.1)


def test_extra_equality_three_states(spark):
    df = spark.createDataFrame(
        [("NL", "NL"), ("NL", "DE"), (None, "NL"), ("NL", None)],
        "country string, gt_country string",
    )
    vals = [r["f_country_match"] for r in extra_equality_feature(df, "country").collect()]
    assert vals == [1.0, -1.0, 0.0, 0.0]


@pytest.mark.parametrize(
    ("n1", "n2", "cat", "lef1", "lef2"),
    [
        ("acme bv", "acme bv", "identical", "bv", "bv"),
        # stacked suffixes extract in reading order; same multiset -> identical
        ("acme bv ltd", "acme ltd bv", "identical", "bv:ltd", "ltd:bv"),
        ("acme bv", "acme ltd", "no_match", "bv", "ltd"),
        ("acme bv ltd", "acme bv", "partial_match", "bv:ltd", "bv"),
        ("acme", "acme bv", "lef1_missing", "", "bv"),
        ("acme bv", "acme", "lef2_missing", "bv", ""),
        ("acme", "acme", "lef1_lef2_missing", "", ""),
        # multi-word forms (M4 parity: cleanco-style multi-token terms)
        ("hitachi kabushiki kaisha", "hitachi kabushiki kaisha",
         "identical", "kabushiki kaisha", "kabushiki kaisha"),
        ("orlen sp z o o", "orlen sp z o o", "identical", "sp z o o", "sp z o o"),
        ("hitachi kabushiki kaisha", "hitachi kk", "no_match",
         "kabushiki kaisha", "kk"),
        # suffix-only detection: a legal token mid-name is NOT a lef
        ("bv holdings acme", "acme bv", "lef1_missing", "", "bv"),
    ],
)
def test_lef_categories(spark, n1, n2, cat, lef1, lef2):
    df = spark.createDataFrame([(n1, n2)], "preprocessed string, gt_preprocessed string")
    row = lef_features(df).collect()[0]
    assert row["f_lef_match"] == cat
    assert row["lef1"] == lef1
    assert row["lef2"] == lef2
    assert row["f_lef_score"] is not None


@pytest.mark.parametrize(
    ("n1", "n2", "bt_cat"),
    [
        # kabushiki kaisha and kk are both 'public' -> business types match
        # even though the legal forms differ (the cleanco unknown/bt tier)
        ("hitachi kabushiki kaisha", "hitachi kk", "identical"),
        ("acme bv", "acme gmbh", "identical"),          # both private
        ("acme bv", "acme nv", "no_match"),             # private vs public
        ("acme spol", "acme ead", "lef1_lef2_unknown"),  # unmapped forms
        ("acme spol", "acme bv", "lef1_unknown"),
        ("acme bv", "acme spol", "lef2_unknown"),
        ("acme", "acme spol", "lef1_missing"),           # missing beats unknown
    ],
)
def test_business_type_tiers(spark, n1, n2, bt_cat, monkeypatch):
    # every real suffix term is mapped since r5, so the defensive unknown
    # tier is exercised by unmapping two forms for the duration of the test
    from entitymatchingmodel_spark.operators import features as feats

    monkeypatch.delitem(feats.TYPES_BY_LEF, "spol")
    monkeypatch.delitem(feats.TYPES_BY_LEF, "ead")
    df = spark.createDataFrame([(n1, n2)], "preprocessed string, gt_preprocessed string")
    row = lef_features(df, include_business_type=True).collect()[0]
    assert row["f_bt_match"] == bt_cat, (row["bt1"], row["bt2"])
    assert row["f_bt_score"] is not None


def test_vocabulary_joined_matches_literal_path(spark):
    """The broadcast-join tier path must produce exactly the literal-array
    path's features, with no collect and a pinned broadcast join."""
    from entitymatchingmodel_spark.operators.features import (
        VOCAB_FEATURES,
        vocabulary_features_joined,
    )
    from entitymatchingmodel_spark.plans import explain_str

    names = spark.createDataFrame(
        [("alpha beta one",), ("alpha beta two",), ("alpha three",), ("alpha four",)],
        "preprocessed string",
    )
    pairs = spark.createDataFrame(
        [(1, 10, "alpha beta corp", "alpha gamma corp"),
         (2, 20, "alpha three", "alpha beta two"),
         (3, 30, "", "alpha four")],
        "uid long, gt_uid long, preprocessed string, gt_preprocessed string",
    )
    tiers = Vocabulary.fit_tiers(names, ["preprocessed"],
                                 very_common_min_df=0.9, common_min_df=0.4)
    v = _literal_vocab(tiers)
    assert {(r["token"], r["tier"]) for r in tiers.collect()} == {("alpha", 2), ("beta", 1)}

    lit_rows = {
        r["uid"]: tuple(r[c] for c in VOCAB_FEATURES)
        for r in vocabulary_features(pairs, v).collect()
    }
    out = vocabulary_features_joined(pairs, tiers, ["uid", "gt_uid"])
    join_rows = {
        r["uid"]: tuple(r[c] for c in VOCAB_FEATURES) for r in out.collect()
    }
    assert join_rows == lit_rows
    plan = explain_str(out)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


@pytest.mark.parametrize("name,lef", [
    ("acme manufacturing limited", "limited"),
    ("acme sociedade anonima", "sociedade anonima"),
    ("acme kabushiki gaisha", "kabushiki gaisha"),
    ("acme s p a", "s p a"),
    ("acme gesellschaft mit beschrankter haftung",
     "gesellschaft mit beschrankter haftung"),
    ("acme sdn bhd", "sdn bhd"),          # r5: one multi-word term (longest-first)
    ("acme spolka jawna", "spolka jawna"),
    ("acme pjsc", "pjsc"),
    # r9 tranche
    ("acme societe d investissement a capital variable",
     "societe d investissement a capital variable"),
    ("acme free zone establishment", "free zone establishment"),
    ("acme spoldzielnia", "spoldzielnia"),
    ("acme sicav", "sicav"),
    ("acme benefit corporation", "benefit corporation"),
    # r9 second tranche
    ("acme perseroan terbatas", "perseroan terbatas"),
    ("acme versicherungsverein auf gegenseitigkeit",
     "versicherungsverein auf gegenseitigkeit"),
    ("acme teoranta", "teoranta"),
    ("acme fz llc", "fz llc"),            # beats bare 'llc' (longest-first)
    ("acme obecne prospesna spolecnost", "obecne prospesna spolecnost"),
    ("acme sociedad anonima bursatil de capital variable",
     "sociedad anonima bursatil de capital variable"),
    ("acme yugen sekinin jigyo kumiai", "yugen sekinin jigyo kumiai"),
    ("acme scarl", "scarl"),
])
def test_lef_r4_term_breadth(spark, name, lef):
    from entitymatchingmodel_spark.operators.features import extract_lef

    df = spark.createDataFrame([(name,)], "n string")
    assert df.select(extract_lef(F.col("n")).alias("l")).collect()[0]["l"] == lef


def test_vocabulary_features_joined_null_safe_matches_literal(spark):
    """The joined tier variant must (a) keep rows whose row key is NULL —
    no-candidate rows with NULL gt_uid — and (b) agree with the literal
    variant feature-for-feature, including the NULL-name rows."""
    from entitymatchingmodel_spark.operators.features import (
        VOCAB_FEATURES,
        vocabulary_features_joined,
    )

    pairs = spark.createDataFrame(
        [
            (1, 10, "alpha beta corp", "alpha gamma corp"),
            (2, 11, "alpha beta", "alpha beta"),
            (3, None, "alpha solo", None),       # NULL gt_uid + NULL gt name
            (4, 12, None, "alpha beta corp"),    # NULL name
        ],
        "uid long, gt_uid long, preprocessed string, gt_preprocessed string",
    )
    names = spark.createDataFrame(
        [("alpha beta one",), ("alpha beta two",), ("alpha three",), ("alpha four",)],
        "preprocessed string",
    )
    tiers = Vocabulary.fit_tiers(names, ["preprocessed"],
                                 very_common_min_df=0.9, common_min_df=0.4)
    v = _literal_vocab(tiers)

    lit_rows = {r["uid"]: r for r in vocabulary_features(pairs, v).collect()}
    join_rows = {r["uid"]: r
                 for r in vocabulary_features_joined(pairs, tiers, ["uid", "gt_uid"]).collect()}
    assert set(join_rows) == {1, 2, 3, 4}, "null-key rows must survive the rejoin"
    for uid, lit in lit_rows.items():
        for c in VOCAB_FEATURES:
            assert join_rows[uid][c] == lit[c], (uid, c)
    # shuffle-join fallback for tier tables too big to broadcast: same rows
    nb = {r["uid"]: r for r in vocabulary_features_joined(
        pairs, tiers, ["uid", "gt_uid"], broadcast_tiers=False).collect()}
    for uid, lit in lit_rows.items():
        for c in VOCAB_FEATURES:
            assert nb[uid][c] == lit[c], (uid, c)


def test_supervised_fit_uses_no_collect_tiers(spark):
    """SupervisedScorer.fit(with_vocabulary=True) must hand the model a
    DataFrame tier table (no collected token lists) and produce the same
    vocabulary feature values the literal path computes."""
    from entitymatchingmodel_spark.operators.supervised import SupervisedScorer

    rows = []
    names = ["apple inc", "netflix nv", "amazon ltd", "spotify ab",
             "apple corp", "netflix bv"]
    for i, n in enumerate(names):
        for j, g in enumerate(names):
            if abs(i - j) <= 1:
                rows.append((100 + i, 200 + j, n, g, 1.0 / (1 + abs(i - j)),
                             100 + i, 200 + j if i == j else 999))
    cands = spark.createDataFrame(
        rows,
        "uid long, gt_uid long, preprocessed string, gt_preprocessed string, "
        "score_0 double, entity_id long, gt_entity_id long",
    )
    scorer = SupervisedScorer(score_col="score_0", max_iter=2,
                              with_vocabulary=True, vocabulary_min_df=(0.5, 0.01))
    model = scorer.fit(cands)
    try:
        assert model.vocab_tiers is not None, "fit must keep tiers as a DataFrame"
        assert model.vocabulary is None, "no collected tier lists in the fit path"
        out = model.transform(cands, return_sm_features=True)
        got = {(r["uid"], r["gt_uid"]): r for r in out.collect()}

        v = _literal_vocab(Vocabulary.fit_tiers(
            cands, ["preprocessed", "gt_preprocessed"],
            very_common_min_df=0.5, common_min_df=0.01))
        want = {(r["uid"], r["gt_uid"]): r
                for r in vocabulary_features(cands, v).collect()}
        from entitymatchingmodel_spark.operators.features import VOCAB_FEATURES
        assert set(got) == set(want)
        for k in want:
            for c in VOCAB_FEATURES:
                assert got[k][c] == want[k][c], (k, c)
        assert all(r["nm_score"] is not None for r in got.values())
    finally:
        model.unpersist_vocab_tiers()
    assert model.vocab_tiers.storageLevel.useMemory is False


def test_lef_dictionaries_invariants():
    """Source-level invariants on the LEF dictionaries: no duplicate dict
    keys (a duplicate silently overrides — the r4 'limited' hazard), no
    duplicate suffix terms, and every mapped form must be a matchable
    suffix term (else the mapping is dead code)."""
    import ast

    from entitymatchingmodel_spark.operators import features as feats

    src = open(feats.__file__).read()
    tree = ast.parse(src)
    for node in ast.walk(tree):
        targets = (
            node.targets if isinstance(node, ast.Assign)
            else [node.target] if isinstance(node, ast.AnnAssign)
            else []
        )
        if any(getattr(t, "id", None) == "TYPES_BY_LEF" for t in targets):
            keys = [k.value for k in node.value.keys]
            dupes = {k for k in keys if keys.count(k) > 1}
            assert not dupes, f"duplicate TYPES_BY_LEF keys: {sorted(dupes)}"
            break
    else:
        raise AssertionError("TYPES_BY_LEF literal not found")

    terms = feats.LEGAL_FORM_TERMS
    assert len(terms) == len(set(terms)), "duplicate LEGAL_FORM_TERMS entries"
    dead = set(feats.TYPES_BY_LEF) - set(terms)
    assert not dead, f"TYPES_BY_LEF keys never matched as suffixes: {sorted(dead)}"
    unmapped = set(terms) - set(feats.TYPES_BY_LEF)
    assert not unmapped, f"suffix terms without a business type: {sorted(unmapped)}"


@pytest.mark.parametrize(
    ("n1", "n2", "cat"),
    [
        # r5 jurisdictions: Singapore/Malaysia limited forms
        ("acme pte ltd", "acme sdn bhd", "identical"),
        # Latvia vs Lithuania private
        ("acme sia", "acme uab", "identical"),
        # Greece public vs Norway public
        ("acme ae", "acme asa", "identical"),
        # cooperative vs public: no overlap
        ("acme osk", "acme asa", "no_match"),
        # Irish DAC vs plain ltd (both 'limited' type)
        ("acme dac", "acme ltd", "identical"),
        # US professional forms
        ("acme pllc", "acme llc", "identical"),
        # previously-unmapped term no longer unknown: Finnish oy = private
        ("acme oy", "acme gmbh", "identical"),
    ],
)
def test_lef_business_type_r5_jurisdictions(spark, n1, n2, cat):
    from entitymatchingmodel_spark.operators.features import lef_features

    df = spark.createDataFrame([(n1, n2)], "preprocessed string, gt_preprocessed string")
    row = lef_features(df, include_business_type=True).collect()[0]
    assert row["f_bt_match"] == cat, (row["bt1"], row["bt2"])


@pytest.mark.parametrize(
    ("n1", "n2", "cat"),
    [
        # r6 jurisdictions: Bulgaria private vs Czech private (full form)
        ("acme eood", "acme spol s r o", "identical"),
        # Korea public vs Denmark public (full forms)
        ("acme chusik hoesa", "acme aktieselskab", "identical"),
        # Ukraine public vs private: no overlap
        ("acme pat", "acme prat", "no_match"),
        # Netherlands foundation vs UK charitable company: both nonprofit
        ("acme stichting", "acme cio", "identical"),
        # Canada ltee = limited, same type as plain ltd
        ("acme ltee", "acme ltd", "identical"),
        # Sweden partnership full forms vs German GbR
        ("acme handelsbolag", "acme gbr", "identical"),
        # Mexico public (sab de cv) vs private limited: no overlap
        ("acme sab de cv", "acme slu", "no_match"),
    ],
)
def test_lef_business_type_r6_jurisdictions(spark, n1, n2, cat):
    from entitymatchingmodel_spark.operators.features import lef_features

    df = spark.createDataFrame([(n1, n2)], "preprocessed string, gt_preprocessed string")
    row = lef_features(df, include_business_type=True).collect()[0]
    assert row["f_bt_match"] == cat, (row["bt1"], row["bt2"])


@pytest.mark.parametrize("name,lef", [
    ("acme limited liability limited partnership",
     "limited liability limited partnership"),
    ("acme akciova spolecnost", "akciova spolecnost"),
    ("acme societe civile immobiliere", "societe civile immobiliere"),
    ("acme tnhh", "tnhh"),
    ("acme berhad", "berhad"),
])
def test_lef_r6_term_breadth(spark, name, lef):
    from entitymatchingmodel_spark.operators.features import extract_lef

    df = spark.createDataFrame([(name,)], "n string")
    assert df.select(extract_lef(F.col("n")).alias("l")).collect()[0]["l"] == lef


@pytest.mark.parametrize("name,lef", [
    # stacked German listed-company form wins over its 'kgaa' tail
    ("henkel ag co kgaa", "ag co kgaa"),
    # Baltic full forms
    ("acme uzdaroji akcine bendrove", "uzdaroji akcine bendrove"),
    ("acme sabiedriba ar ierobezotu atbildibu",
     "sabiedriba ar ierobezotu atbildibu"),
    # dotted forms arrive space-separated after punctuation stripping
    ("acme k k", "k k"),
    ("acme v o f", "v o f"),
    # generic English org suffixes
    ("acme housing cooperative", "cooperative"),
    ("acme heritage foundation", "foundation"),
    # ZA close corporation abbreviation
    ("acme trading cc", "cc"),
])
def test_lef_r7_term_breadth(spark, name, lef):
    from entitymatchingmodel_spark.operators.features import extract_lef

    df = spark.createDataFrame([(name,)], "n string")
    assert df.select(extract_lef(F.col("n")).alias("l")).collect()[0]["l"] == lef


@pytest.mark.parametrize(
    ("n1", "n2", "cat"),
    [
        # DE cooperative (eG) vs NL cooperative
        ("acme eg", "acme cooperatie", "identical"),
        # Estonian public vs Lithuanian public full forms
        ("acme aktsiaselts", "acme akcine bendrove", "identical"),
        # FR professional private form vs plain sarl
        ("acme selarl", "acme sarl", "identical"),
        # Slovak partnership full form vs German KG
        ("acme verejna obchodna spolocnost", "acme kg", "identical"),
        # nonprofit association vs public company: no overlap
        ("acme association", "acme plc", "no_match"),
        # European cooperative society vs Finnish cooperative
        ("acme sce", "acme osuuskunta", "identical"),
    ],
)
def test_lef_business_type_r7_jurisdictions(spark, n1, n2, cat):
    from entitymatchingmodel_spark.operators.features import lef_features

    df = spark.createDataFrame([(n1, n2)], "preprocessed string, gt_preprocessed string")
    row = lef_features(df, include_business_type=True).collect()[0]
    assert row["f_bt_match"] == cat, (row["bt1"], row["bt2"])


@pytest.mark.parametrize("name,lef", [
    # Czech full private form (vs the Slovak 'spolocnost' spelling already
    # covered) and the Czech partnership full forms
    ("acme spolecnost s rucenim omezenym", "spolecnost s rucenim omezenym"),
    ("acme verejna obchodni spolecnost", "verejna obchodni spolecnost"),
    # Greek transliterated full forms
    ("acme etaireia periorismenis efthynis", "etaireia periorismenis efthynis"),
    ("acme anonymi etaireia", "anonymi etaireia"),
    # Vietnamese + Chinese transliterated forms
    ("acme cong ty co phan", "cong ty co phan"),
    ("acme youxian zeren gongsi", "youxian zeren gongsi"),
    # German full OHG / e.K. forms
    ("acme offene handelsgesellschaft", "offene handelsgesellschaft"),
    ("acme eingetragener kaufmann", "eingetragener kaufmann"),
    # stacked: full Hungarian public form after a name, longest-first
    ("acme zartkoruen mukodo reszvenytarsasag",
     "zartkoruen mukodo reszvenytarsasag"),
    # spaced dotted forms + AT/UA/BY single tokens
    ("acme o u", "o u"),
    ("acme a p s", "a p s"),
    ("acme keg", "keg"),
    ("acme zat", "zat"),
    # UK mutuals / AU no-liability
    ("acme building society", "building society"),
    ("northern gold mines no liability", "no liability"),
])
def test_lef_r8_term_breadth(spark, name, lef):
    from entitymatchingmodel_spark.operators.features import extract_lef

    df = spark.createDataFrame([(name,)], "n string")
    assert df.select(extract_lef(F.col("n")).alias("l")).collect()[0]["l"] == lef


@pytest.mark.parametrize(
    ("n1", "n2", "cat"),
    [
        # Czech full private form vs German GmbH
        ("acme spolecnost s rucenim omezenym", "acme gmbh", "identical"),
        # Greek public full form vs French SA
        ("acme anonymi etaireia", "acme societe anonyme", "identical"),
        # Vietnamese JSC vs Korean JSC (both 'public')
        ("acme cong ty co phan", "acme jusik hoesa", "identical"),
        # Norwegian full public form vs Swedish full public form
        ("acme allmennaksjeselskap", "acme publikt aktiebolag", "identical"),
        # credit union (cooperative) vs plc: no overlap
        ("acme credit union", "acme plc", "no_match"),
        # Austrian small partnership vs Spanish sociedad civil
        ("acme keg", "acme sociedad civil", "identical"),
    ],
)
def test_lef_business_type_r8_jurisdictions(spark, n1, n2, cat):
    from entitymatchingmodel_spark.operators.features import lef_features

    df = spark.createDataFrame([(n1, n2)], "preprocessed string, gt_preprocessed string")
    row = lef_features(df, include_business_type=True).collect()[0]
    assert row["f_bt_match"] == cat, (row["bt1"], row["bt2"])
