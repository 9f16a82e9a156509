"""Account aggregation methods with hand-computed expectations
(ref tests/unit/test_entity_aggregation.py idiom)."""

import pytest

from entitymatchingmodel_spark.operators.aggregation import aggregate_accounts


@pytest.fixture(scope="module")
def cands(spark):
    # account a1: entity 1 scores (0.9 on freq 3, 0.5 on freq 1); entity 2 (0.8 on freq 1)
    # account a2: entity 2 only; one blacklisted + one null-gt row to be filtered
    return spark.createDataFrame(
        [
            ("a1", 1, 101, 0.9, "alpha bv", 3.0),
            ("a1", 1, 102, 0.5, "alpha group", 1.0),
            ("a1", 2, 103, 0.8, "alpho bv", 1.0),
            ("a2", 2, 103, 0.6, "beta ltd", 2.0),
            ("a2", 2, 103, 0.7, "", 9.0),          # empty name -> filtered
            ("a2", None, None, None, "beta x", 1.0),  # no candidate -> filtered
        ],
        "account string, gt_entity_id long, gt_uid long, nm_score double, "
        "preprocessed string, counterparty_account_count_distinct double",
    )


def test_mean_score(spark, cands):
    out = {r["account"]: r for r in aggregate_accounts(cands, method="mean_score").collect()}
    # a1: entity1 mean=(0.9+0.5)/2=0.7 < entity2 mean 0.8 -> entity 2 wins
    assert out["a1"]["gt_entity_id"] == 2
    assert out["a1"]["agg_score"] == pytest.approx(0.8)
    assert out["a1"]["rep_name"] == "alpho bv"
    assert out["a2"]["gt_entity_id"] == 2
    assert out["a2"]["agg_score"] == pytest.approx(0.6)


def test_max_frequency_nm_score(spark, cands):
    out = {r["account"]: r for r in
           aggregate_accounts(cands, method="max_frequency_nm_score").collect()}
    # a1 entity1: (3*0.9 + 1*0.5)/(3+1) = 3.2/4 = 0.8 ; entity2: 0.8/1 = 0.8
    # tie on agg score -> higher gt_entity_id wins (deterministic tie-break)
    assert out["a1"]["gt_entity_id"] == 2
    # representative name = max freq_score contribution
    assert out["a1"]["rep_name"] == "alpho bv"
    assert out["a2"]["agg_score"] == pytest.approx(0.6)


def test_freq_null_defaults_to_one(spark):
    df = spark.createDataFrame(
        [("a", 1, 10, 0.5, "x", None), ("a", 1, 10, 1.0, "y", None)],
        "account string, gt_entity_id long, gt_uid long, nm_score double, "
        "preprocessed string, counterparty_account_count_distinct double",
    )
    row = aggregate_accounts(df, method="max_frequency_nm_score").collect()[0]
    assert row["agg_score"] == pytest.approx(0.75)  # (0.5+1.0)/2 with unit freqs


def test_blacklist(spark, cands):
    out = aggregate_accounts(cands, method="mean_score", blacklist=["alpho bv"]).collect()
    a1 = next(r for r in out if r["account"] == "a1")
    assert a1["gt_entity_id"] == 1  # entity 2's only name blacklisted


def test_invalid_method(spark, cands):
    with pytest.raises(ValueError, match="method"):
        aggregate_accounts(cands, method="median")


def test_duplicate_clusters_components(spark):
    from entitymatchingmodel_spark.operators.dedup import duplicate_clusters
    from pyspark.sql import functions as F

    ids = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    # components: {1,2,3,4} (chain), {5,6}, {7} singleton
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], "id_a long, id_b long"
    )
    out = {r["id"]: r["cluster_id"] for r in duplicate_clusters(ids, pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}
    # keep-one-per-cluster policy
    kept = [k for k, v in out.items() if k == v]
    assert sorted(kept) == [1, 5, 7]


def test_deterministic_sampling(spark):
    from entitymatchingmodel_spark.functions.sampling import (
        deterministic_sample,
        stratified_sample,
    )

    df = spark.createDataFrame([(i, "en" if i % 2 else "de") for i in range(1000)],
                               "id long, lang string")
    a = {r["id"] for r in deterministic_sample(df, "id", 0.3).collect()}
    b = {r["id"] for r in deterministic_sample(df.repartition(7), "id", 0.3).collect()}
    assert a == b, "sample must be partitioning-independent"
    assert 0.2 < len(a) / 1000 < 0.4
    # nested fractions are monotone: a 0.1 sample is a subset of a 0.3 sample
    c = {r["id"] for r in deterministic_sample(df, "id", 0.1).collect()}
    assert c <= a
    s = stratified_sample(df, "id", "lang", {"en": 1.0, "de": 0.0})
    langs = {r["lang"] for r in s.collect()}
    assert langs == {"en"}


def test_extra_group_cols_positive_set(spark):
    """Training-eval grouping: positive and negative name-sets aggregate
    separately within one account (ref spark_entity_aggregation.py:158-180)."""
    from entitymatchingmodel_spark.operators.aggregation import aggregate_accounts

    df = spark.createDataFrame(
        [("a1", 1, 10, 0.9, "x", True), ("a1", 1, 10, 0.7, "x", True),
         ("a1", 2, 20, 0.95, "y", False)],
        "account string, gt_entity_id long, gt_uid long, nm_score double, "
        "preprocessed string, positive_set boolean",
    )
    out = aggregate_accounts(
        df, method="mean_score", extra_group_cols=("positive_set",)
    ).collect()
    got = {(r["account"], r["positive_set"]): (r["gt_entity_id"], r["agg_score"]) for r in out}
    assert got[("a1", True)] == (1, 0.8)
    assert got[("a1", False)] == (2, 0.95)


def test_blacklist_exact_match_semantics(spark, cands):
    """Reference parity (base_entity_aggregation.py:166-167,
    spark_entity_aggregation.py:188-193): blacklist entries are normalized
    once (abbreviations merged, lowercased) and then matched EXACTLY against
    the preprocessed column — the column is not re-lowercased."""
    # 'B. V. Alpha'? No — entries like 'Alpha BV' normalize to 'alpha bv'
    out = aggregate_accounts(cands, blacklist=["Alpha BV"]).collect()
    names = {r["rep_name"] for r in out}
    assert "alpha bv" not in names  # normalized entry filtered the row
    # an entry that only matches case-insensitively does NOT filter:
    # the column keeps non-lowercase values distinct from the entry
    df = spark.createDataFrame(
        [("a", 1, 10, 0.9, "Alpha BV", 1.0), ("a", 1, 10, 0.5, "other", 1.0)],
        "account string, gt_entity_id long, gt_uid long, nm_score double, "
        "preprocessed string, counterparty_account_count_distinct double",
    )
    out2 = aggregate_accounts(df, blacklist=["Alpha BV"]).collect()
    # entry normalized to 'alpha bv' != column value 'Alpha BV' -> row kept
    assert out2[0]["rep_name"] == "Alpha BV"


def test_rep_name_tie_breaks_desc(spark):
    df = spark.createDataFrame(
        [("a", 1, 10, 0.5, "aaa", 1.0), ("a", 1, 10, 0.5, "zzz", 1.0)],
        "account string, gt_entity_id long, gt_uid long, nm_score double, "
        "preprocessed string, counterparty_account_count_distinct double",
    )
    out = aggregate_accounts(df, method="mean_score").collect()
    assert out[0]["rep_name"] == "zzz"  # max(struct) -> name DESC on ties


def test_pipeline_aggregation_without_frequency_column(spark):
    """Names with an account but no frequency column aggregate with every
    name counting once, as a null frequency does."""
    from entitymatchingmodel_spark import SparkEntityMatching

    gt = spark.createDataFrame(
        [("Alpha Bank", 1), ("Beta Shipping", 2), ("Gamma Foods", 3)], "name string, id long"
    )
    names = spark.createDataFrame(
        [("Alpha Bank", 10, "a1"), ("Alpha Bnk", 11, "a1"), ("Beta Shiping", 12, "a2")],
        "name string, id long, account string",
    )
    em = SparkEntityMatching(aggregation_layer=True).fit(gt)
    try:
        out = {r["account"]: r["gt_entity_id"] for r in em.transform(names).collect()}
    finally:
        em.unpersist()
    assert out == {"a1": 1, "a2": 2}
