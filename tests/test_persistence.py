"""Save/load round-trip: the reloaded model reproduces transform() exactly."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from entitymatchingmodel_spark import SparkEntityMatching, load_model, save_model


def _canon(df):
    pdf = df.toPandas()
    return (
        pdf[sorted(pdf.columns)]
        .sort_values(sorted(pdf.columns))
        .reset_index(drop=True)
    )


@pytest.fixture(scope="module")
def fitted(spark):
    gt = spark.createDataFrame(
        [(1, "Apple Inc."), (2, "Microsoft Corp."), (3, "Alphabet B.V."),
         (4, "Amazon Ltd"), (5, "Netflix N.V.")],
        "id long, name string",
    )
    em = SparkEntityMatching(
        indexers=[
            {"type": "cosine_similarity", "tokenizer": "words", "ngram": 1,
             "num_candidates": 3, "cos_sim_lower_bound": 0.1},
            {"type": "cosine_similarity", "tokenizer": "characters", "ngram": 2,
             "num_candidates": 3, "cos_sim_lower_bound": 0.1,
             "blocking_func": "first_char"},
            {"type": "sni", "window_length": 3},
        ]
    )
    em.fit(gt)
    return em


@pytest.fixture(scope="module")
def names(spark):
    return spark.createDataFrame(
        [(101, "apple"), (102, "microsof corp"), (103, "netflx nv")],
        "id long, name string",
    )


def test_roundtrip_transform_identical(spark, fitted, names, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("model") / "em")
    save_model(fitted, path)
    reloaded = load_model(spark, path)

    a = _canon(fitted.transform(names))
    b = _canon(reloaded.transform(names))
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 0


def test_unfitted_save_raises(spark):
    with pytest.raises(ValueError, match="not fitted"):
        save_model(SparkEntityMatching(), "/tmp/should-not-exist")


def test_custom_callable_blocking_rejected(spark, tmp_path_factory):
    gt = spark.createDataFrame([(1, "Acme BV")], "id long, name string")
    em = SparkEntityMatching(
        indexers=[{"type": "cosine_similarity", "num_candidates": 2,
                   "blocking_func": lambda c: F.substring(c, 1, 1)}]
    )
    em.fit(gt)
    with pytest.raises(ValueError, match="blocking_func"):
        save_model(em, str(tmp_path_factory.mktemp("model") / "em2"))


def test_named_models_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from entitymatchingmodel_spark import SparkEntityMatching, load_model, save_model

    gt = spark.createDataFrame(
        [(1, "apple inc"), (2, "netflix nv"), (3, "amazon ltd"), (4, "spotify ab")],
        "id long, name string",
    )
    names = spark.createDataFrame(
        [(11, "aple inc"), (12, "netflx nv")], "id long, name string"
    )
    em = SparkEntityMatching(
        indexers=[{"type": "cosine_similarity", "tokenizer": "characters",
                   "ngram": 2, "num_candidates": 2, "cos_sim_lower_bound": 0.1}],
    )
    em.fit(gt)
    em.fit_classifier(names, max_iter=2)
    em.fit_classifier(names, max_iter=2, name="alt")
    path = str(tmp_path / "m9")
    save_model(em, path)
    em2 = load_model(spark, path)
    a = em.transform(names).orderBy("uid", "gt_uid").collect()
    b = em2.transform(names).orderBy("uid", "gt_uid").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    assert "nm_score_alt" in em2.transform(names).columns


def test_vocab_tiers_model_roundtrip(spark, tmp_path):
    """A classifier fit with the no-collect vocabulary (tier DataFrame)
    must persist the tier table as parquet and reload to identical scores."""
    gt = spark.createDataFrame(
        [(1, "apple inc"), (2, "netflix nv"), (3, "amazon ltd"), (4, "spotify ab")],
        "id long, name string",
    )
    names = spark.createDataFrame(
        [(11, "aple inc"), (12, "netflx nv"), (13, "amazon ltd")],
        "id long, name string",
    )
    em = SparkEntityMatching(
        indexers=[{"type": "cosine_similarity", "tokenizer": "characters",
                   "ngram": 2, "num_candidates": 2, "cos_sim_lower_bound": 0.1}],
    )
    em.fit(gt)
    em.fit_classifier(names, max_iter=2, with_vocabulary=True,
                      vocabulary_min_df=(0.5, 0.01))
    assert em.supervised_model_.vocab_tiers is not None
    path = str(tmp_path / "tiers_model")
    save_model(em, path)
    em2 = load_model(spark, path)
    assert em2.supervised_model_.vocab_tiers is not None
    a = _canon(em.transform(names))
    b = _canon(em2.transform(names))
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 0


def test_literal_vocabulary_save_loads_like_tier_save(spark, tmp_path):
    """A save whose meta.json holds the tiers as literal very_common /
    common lists (the older format, no vocab_tiers parquet) must load and
    transform exactly like the same model's tier-table save."""
    import shutil

    from entitymatchingmodel_spark.persistence import _read_json, _write_json

    # "group" sits in most names (very common), every other token in few
    gt = spark.createDataFrame(
        [(1, "apple group"), (2, "netflix nv"), (3, "amazon group"),
         (4, "spotify group")],
        "id long, name string",
    )
    names = spark.createDataFrame(
        [(11, "aple group"), (12, "netflx nv"), (13, "amazon group")],
        "id long, name string",
    )
    em = SparkEntityMatching(
        indexers=[{"type": "cosine_similarity", "tokenizer": "characters",
                   "ngram": 2, "num_candidates": 2, "cos_sim_lower_bound": 0.1}],
        return_sm_features=True,
    )
    em.fit(gt)
    em.fit_classifier(names, max_iter=2, with_vocabulary=True,
                      vocabulary_min_df=(0.5, 0.01))
    tier_path = str(tmp_path / "tier_save")
    save_model(em, tier_path)

    old_path = str(tmp_path / "literal_save")
    shutil.copytree(tier_path, old_path)
    sm_dir = f"{old_path}/supervised"
    tiers = spark.read.parquet(f"{sm_dir}/vocab_tiers").collect()
    assert {r["tier"] for r in tiers} == {1, 2}, "fixture must fill both tiers"
    meta = _read_json(spark, f"{sm_dir}/meta.json")
    meta["vocab_tiers"] = False
    meta["vocabulary"] = {
        "very_common": sorted(r["token"] for r in tiers if r["tier"] == 2),
        "common": sorted(r["token"] for r in tiers if r["tier"] == 1),
    }
    _write_json(spark, f"{sm_dir}/meta.json", meta)
    shutil.rmtree(f"{sm_dir}/vocab_tiers")

    models = [em, load_model(spark, tier_path), load_model(spark, old_path)]
    try:
        a = _canon(models[1].transform(names))
        b = _canon(models[2].transform(names))
    finally:
        # release every cached frame now rather than at some later JVM GC,
        # where it would shift other tests' persistent-RDD counts
        for m in models:
            m.unpersist()
            m.supervised_model_.unpersist_vocab_tiers()
    assert "f_very_common_hit" in a.columns
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 0 and a["nm_score"].notna().any()


def test_bucketed_weights_roundtrip_plan_and_ddl_recreate(spark, fitted, names, tmp_path_factory):
    """save_model(bucket_weights=N) stores GT token weights as a
    token-bucketed table: (1) the reloaded model's transform is identical
    to the plain-parquet round-trip, (2) its plan carries strictly fewer
    exchanges (the GT side of the token join reads the bucket layout
    instead of shuffling), and (3) a session whose catalog lost the table
    (fresh session / dropped entry) re-creates it by DDL from the model
    directory alone."""
    from entitymatchingmodel_spark.persistence import _bucket_table_name
    from entitymatchingmodel_spark.plans import exchange_count, explain_str

    plain_path = str(tmp_path_factory.mktemp("model_plain") / "em")
    bucket_path = str(tmp_path_factory.mktemp("model_bucket") / "em")
    save_model(fitted, plain_path)
    save_model(fitted, bucket_path, bucket_weights=8)
    tables = [_bucket_table_name(bucket_path, i) for i in range(2)]
    try:
        plain = load_model(spark, plain_path)
        bucketed = load_model(spark, bucket_path)

        a = _canon(plain.transform(names))
        b = _canon(bucketed.transform(names))
        pd.testing.assert_frame_equal(a, b)
        assert len(a) > 0

        # save/restore: unset() falls back to Spark's 10MB default, not the
        # builder's 64MB, leaking a smaller threshold into later plan tests
        old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            n_plain = exchange_count(plain.transform(names))
            n_bucketed = exchange_count(bucketed.transform(names))
            assert n_bucketed < n_plain, explain_str(bucketed.transform(names))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)

        # catalog-miss path: drop the entries, reload -> DDL re-create
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        recreated = load_model(spark, bucket_path)
        c = _canon(recreated.transform(names))
        pd.testing.assert_frame_equal(a, c)
        assert spark.catalog.tableExists(tables[0])

        # stale-catalog path (round-7 review): if the catalog entry's
        # bucket spec no longer matches the model's meta.json (here: a
        # hand-planted 4-bucket entry over the 8-bucket files), trusting
        # it would make the shuffle-free join silently wrong — the loader
        # must detect the mismatch and DROP + re-create the entry.
        schema_sql = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in spark.read.parquet(
                f"{bucket_path}/indexers/0/gt_weights"
            ).schema.fields
        )
        spark.sql(f"DROP TABLE {tables[0]}")
        spark.sql(
            f"CREATE TABLE {tables[0]} ({schema_sql}) USING parquet "
            f"CLUSTERED BY (token) SORTED BY (token) INTO 4 BUCKETS "
            f"LOCATION '{bucket_path}/indexers/0/gt_weights'"
        )
        resaved = load_model(spark, bucket_path)
        d = _canon(resaved.transform(names))
        pd.testing.assert_frame_equal(a, d)
        described = {
            r["col_name"].strip(): (r["data_type"] or "").strip()
            for r in spark.sql(f"DESCRIBE FORMATTED {tables[0]}").collect()
        }
        assert described.get("Num Buckets") == "8", described
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")

def test_bucketed_weights_managed_table_collision_refuses_drop(
    spark, fitted, tmp_path_factory
):
    """A MANAGED catalog table colliding with the model's bucket-table name
    must NOT be dropped (DROP TABLE on a managed table deletes its data —
    round-8 review finding): load_model raises a descriptive error instead."""
    from entitymatchingmodel_spark.persistence import _bucket_table_name

    path = str(tmp_path_factory.mktemp("model_managed_collision") / "em")
    save_model(fitted, path, bucket_weights=4)
    tables = [_bucket_table_name(path, i) for i in range(2)]
    try:
        spark.sql(f"DROP TABLE IF EXISTS {tables[0]}")
        # a managed table squatting on the name (no LOCATION -> managed)
        spark.sql(f"CREATE TABLE {tables[0]} (token STRING, w DOUBLE) USING parquet")
        with pytest.raises(ValueError, match="MANAGED"):
            load_model(spark, path)
        # the squatter survives untouched
        assert spark.catalog.tableExists(tables[0])
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# ---------------------------------------------------------------------------
# registered custom callables round-trip by name (r11)
# ---------------------------------------------------------------------------

def test_registered_blocking_func_roundtrips_by_name(spark, tmp_path):
    """A user blocking callable registered under a stable name persists
    as that name and loads back to the same function — the registry
    escape hatch for the documented no-pickled-closures policy."""
    from entitymatchingmodel_spark.pipeline import register_blocking_func

    def two_chars(c):
        return F.substring(c, 1, 2)

    register_blocking_func("first_two_chars", two_chars)
    # idempotent re-registration is a no-op; rebinding raises
    register_blocking_func("first_two_chars", two_chars)
    with pytest.raises(ValueError, match="already registered"):
        register_blocking_func("first_two_chars", lambda c: c)

    gt = spark.createDataFrame(
        [(1, "Apple Inc."), (2, "Amazon Ltd"), (3, "Microsoft Corp.")],
        "id long, name string",
    )
    em = SparkEntityMatching(
        indexers=[{"type": "cosine_similarity", "num_candidates": 3,
                   "cos_sim_lower_bound": 0.05,
                   "blocking_func": two_chars}]   # the CALLABLE, not the name
    )
    em.fit(gt)
    path = str(tmp_path / "em_blk")
    save_model(em, path)

    names = spark.createDataFrame(
        [(101, "apple inc"), (102, "amazon limited")], "id long, name string"
    )
    reloaded = load_model(spark, path)
    assert reloaded.indexer_models_[
        next(iter(reloaded.indexer_models_))
    ].blocking_func is two_chars
    pd.testing.assert_frame_equal(
        _canon(em.transform(names)), _canon(reloaded.transform(names))
    )


def test_registered_sni_mapping_roundtrips_by_name(spark, tmp_path):
    from entitymatchingmodel_spark.pipeline import register_sni_mapping_func

    def rev(c):
        return F.reverse(c)

    register_sni_mapping_func("reversed_name", rev)
    gt = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, "delta")],
        "id long, name string",
    )
    em = SparkEntityMatching(
        indexers=[{"type": "sni", "window_length": 3,
                   "mapping_func": "reversed_name"}]   # by NAME in the spec
    )
    em.fit(gt)
    path = str(tmp_path / "em_sni_map")
    save_model(em, path)
    reloaded = load_model(spark, path)
    m = reloaded.indexer_models_[next(iter(reloaded.indexer_models_))]
    assert m.mapping_func is rev and m.orig_input_col == "preprocessed"

    names = spark.createDataFrame([(11, "alpha"), (12, "gama")], "id long, name string")
    pd.testing.assert_frame_equal(
        _canon(em.transform(names)), _canon(reloaded.transform(names))
    )


def test_unregistered_callables_still_fail_fast(spark, tmp_path):
    from entitymatchingmodel_spark.operators.sni_indexer import SNIIndexer

    gt = spark.createDataFrame([(1, "Acme BV"), (2, "Beta AG")], "id long, name string")
    em = SparkEntityMatching(
        indexers=[{"type": "sni", "window_length": 3,
                   "mapping_func": lambda c: F.reverse(c)}]
    )
    em.fit(gt)
    with pytest.raises(ValueError, match="register_sni_mapping_func"):
        save_model(em, str(tmp_path / "em_bad"))
    # unknown NAME in a spec fails at build time with a pointer
    with pytest.raises(ValueError, match="register_blocking_func"):
        SparkEntityMatching(
            indexers=[{"type": "cosine_similarity",
                       "blocking_func": "never_registered"}]
        ).fit(gt)
