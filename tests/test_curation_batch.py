"""curate_batch — the batch twin of the streaming front-door.

Pins (1) each stage equal to its standalone operator on the same rows,
and (2) the batch/stream symmetry contract: the same config produces the
same surviving content (hash set) from curate_batch and curate_stream.
"""

import datetime
import os

import pytest

from tests.conftest import *  # noqa: F401,F403  (spark fixture)

T = datetime.datetime
GOOD = "The quick brown fox went over the green hills number %d."


def _docs(spark):
    body = "\n".join(GOOD % i for i in range(6))
    rows = [
        # survives everything
        (1, body, "https://www.a.example.com/p/1", T(2024, 1, 1, 0, 0)),
        # same page as doc 1 after URL normalization -> url-dedup loser
        (2, body + "\nExtra clean sentence with plenty of words here.",
         "HTTP://A.EXAMPLE.COM/p/1?utm=x", T(2024, 1, 1, 0, 1)),
        # javascript line removed -> cleaned text equals doc 1 -> content-
        # dedup loser
        (3, body + "\nPlease enable javascript to continue here.",
         "https://a.example.com/p/3", T(2024, 1, 1, 0, 2)),
        # page-level C4 drop: lorem ipsum
        (4, body + "\nDecorative lorem ipsum filler sentence sits here.",
         "https://a.example.com/p/4", T(2024, 1, 1, 0, 3)),
        # blocklist drop
        (5, body + "\nThis sentence mentions spam quite a few times.",
         "https://a.example.com/p/5", T(2024, 1, 1, 0, 4)),
        # too few sentences for the C4 page rule
        (6, "\n".join(GOOD % i for i in range(3)),
         "https://a.example.com/p/6", T(2024, 1, 1, 0, 5)),
        # distinct clean survivor (same en-scoring vocabulary as GOOD —
        # the trigram heuristic misfiles unrelated synthetic sentences)
        (7, "\n".join(
            "She said that this was the best thing they had ever seen there number %d." % i
            for i in range(6)),
         "https://a.example.com/p/7", T(2024, 1, 1, 0, 6)),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, url string, ts timestamp"
    )


CFG = dict(langs=("en",), min_quality=0.1, c4_clean=True,
           blocklist=("spam",))


def test_curate_batch_stage_parity(spark):
    from entitymatchingmodel_spark.functions.text import c4_rules_table
    from entitymatchingmodel_spark.operators.curation import curate_batch
    from entitymatchingmodel_spark.operators.dedup import drop_url_duplicates

    df = _docs(spark)
    out = curate_batch(df, "doc_id", "text", url_col="url", **CFG).collect()
    got = {r["doc_id"]: r for r in out}
    # doc 2 lost url-dedup to doc 1; doc 3's cleaned text == doc 1's body
    # so it lost content-dedup; 4 & 6 fail the C4 page rules; 5 blocked
    assert set(got) == {1, 7}
    # representatives are the deterministic min-id rows with cleaned text
    table = {r["doc_id"]: r for r in
             c4_rules_table(df, "doc_id", "text").collect()}
    assert got[1]["text"] == table[1]["kept_text"]
    assert got[7]["text"] == table[7]["kept_text"]
    # audit columns present and consistent
    assert got[1]["lang"] == "en" and got[1]["quality"] >= 0.1
    assert got[1]["url_norm"].endswith("a.example.com/p/1")
    assert len(got[1]["content_hash"]) == 32
    # url stage alone agrees with the standalone operator
    url_keep = {r["doc_id"] for r in
                drop_url_duplicates(df, "doc_id", "url").collect()}
    assert 2 not in url_keep and {1, 3, 4, 5, 6, 7} <= url_keep


def test_curate_batch_matches_curate_stream(spark, tmp_path):
    """One config, two engines: the batch front-door and the streaming
    front-door keep the same CONTENT (hash set) — the deploy-offline-
    recipe-online symmetry contract.  LM and DSIR gates included, so the
    batch join-scorers are pinned against the stream's rowwise scorers
    end-to-end."""
    from entitymatchingmodel_spark.functions.selection import (
        dsir_bucket_logratios,
    )
    from entitymatchingmodel_spark.operators.curation import curate_batch
    from entitymatchingmodel_spark.operators.lm import BigramLM
    from entitymatchingmodel_spark.streaming import curate_stream

    df = _docs(spark)
    lm = BigramLM.fit(df, "text", score_decimals=6)
    ratios = dsir_bucket_logratios(
        df.filter("doc_id = 1"), df, "doc_id", "text", n_buckets=64
    ).localCheckpoint()
    cfg = dict(
        CFG, lm_model=lm, max_perplexity=1e6,
        dsir_ratios=ratios, min_dsir=-1e6,
    )
    try:
        batch = curate_batch(df, "doc_id", "text", url_col="url", **cfg)
        batch_rows = batch.collect()

        src = str(tmp_path / "src")
        os.makedirs(src)
        df.coalesce(1).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(
            "doc_id long, text string, url string, ts timestamp"
        ).parquet(src)
        out = curate_stream(stream, "text", "ts", url_col="url",
                            min_dsir=cfg["min_dsir"],
                            dsir_ratios=ratios, lm_model=lm,
                            max_perplexity=cfg["max_perplexity"],
                            langs=CFG["langs"],
                            min_quality=CFG["min_quality"],
                            c4_clean=True, blocklist=CFG["blocklist"])
        got = []
        q = (out.writeStream
             .foreachBatch(lambda b, i: got.extend(b.collect()))
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        lm.unpersist()

    b_hashes = {r["content_hash"] for r in batch_rows}
    s_hashes = {r["content_hash"] for r in got}
    assert b_hashes == s_hashes and len(b_hashes) == 2
    # the audit scores agree row-for-row where the same id survived both
    b_by_id = {r["doc_id"]: r for r in batch_rows}
    s_by_id = {r["doc_id"]: r for r in got}
    for i in set(b_by_id) & set(s_by_id):
        assert b_by_id[i]["perplexity"] == s_by_id[i]["perplexity"]
        assert b_by_id[i]["dsir_logratio"] == s_by_id[i]["dsir_logratio"]
        assert b_by_id[i]["text"] == s_by_id[i]["text"]


def test_curate_batch_validation(spark):
    from entitymatchingmodel_spark.operators.curation import curate_batch

    df = _docs(spark)
    with pytest.raises(ValueError, match="set together"):
        curate_batch(df, "doc_id", "text", max_perplexity=10.0)
    with pytest.raises(ValueError, match="set together"):
        curate_batch(df, "doc_id", "text", min_dsir=0.0)
    with pytest.raises(ValueError, match="lowercase"):
        curate_batch(df, "doc_id", "text", blocklist=("Spam",))


def test_curate_rw_stage_batch_and_stream(spark, tmp_path):
    """The r10 RefinedWeb line-correction stage: rewrites pages to their
    surviving lines, drops pages over the removed-chars budget, and the
    batch and streaming front-doors agree on the surviving content."""
    import os as _os

    from entitymatchingmodel_spark.functions.text import (
        refinedweb_lines_table,
    )
    from entitymatchingmodel_spark.operators.curation import curate_batch
    from entitymatchingmodel_spark.streaming import curate_stream

    # 20 good lines (~1100 chars): the one removed 43-char shout is ~4%
    # of the page — inside the 5% budget (8 lines put it at ~9%: dropped)
    body = "\n".join(GOOD % i for i in range(20))
    rows = [
        # one shouty line removed, small fraction of the page -> kept,
        # text rewritten
        (1, body + "\nTHIS LINE IS ALL CAPS AND VERY LOUD INDEED.",
         T(2024, 1, 1, 0, 0)),
        # counters dominate a short page -> dropped by the 5% budget
        (2, GOOD % 0 + "\n3 likes\n7 comments\n12 shares\n99 views\n4 votes"
            + "\n17 replies\n8 reposts\n23 followers\n1 retweet\n5 upvotes",
         T(2024, 1, 1, 0, 1)),
        # clean page -> kept untouched
        (3, body, T(2024, 1, 1, 0, 2)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")

    batch = curate_batch(
        df, "doc_id", "text", langs=(), min_quality=0.0, rw_clean=True
    )
    got = {r["doc_id"]: r["text"] for r in batch.collect()}
    # doc 1's rewrite equals doc 3's body, so the (always-on) content
    # dedup collapses them to the min-id representative; doc 2 fell to
    # the removed-chars budget
    assert set(got) == {1}
    assert got[1] == body
    # the stage agrees with the standalone table's keep/cleaned_text
    table = {r["doc_id"]: r for r in
             refinedweb_lines_table(df, "doc_id", "text").collect()}
    assert table[2]["keep"] is False
    assert table[1]["cleaned_text"] == body

    src = str(tmp_path / "src")
    _os.makedirs(src)
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(src)
    out = curate_stream(stream, "text", "ts", langs=(), min_quality=0.0,
                        rw_clean=True)
    srows = []
    q = (out.writeStream
         .foreachBatch(lambda b, i: srows.extend(b.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert ({r["content_hash"] for r in batch.collect()}
            == {r["content_hash"] for r in srows})


def test_curate_rw_stage_validation(spark):
    from entitymatchingmodel_spark.operators.curation import curate_batch

    df = spark.createDataFrame([(1, "x.")], "doc_id long, text string")
    with pytest.raises(ValueError, match="rw_clean"):
        curate_batch(df, "doc_id", "text", rw_max_removed_frac=0.1)
    with pytest.raises(ValueError, match="max_upper_frac"):
        curate_batch(df, "doc_id", "text", rw_clean=True,
                     rw_max_upper_frac=2.0)


def test_curation_temp_column_collision_guards(spark):
    """A caller's own '_c4_kept' / '_rw_kept' column must fail fast, not
    be silently overwritten and dropped (the _emm_ch guard convention)."""
    import pyspark.sql.functions as F

    from entitymatchingmodel_spark.operators.curation import curate_batch

    df = _docs(spark).withColumn("_c4_kept", F.lit("user data"))
    with pytest.raises(ValueError, match="_c4_kept"):
        curate_batch(df, "doc_id", "text", c4_clean=True)
    df2 = _docs(spark).withColumn("_rw_kept", F.lit("user data"))
    with pytest.raises(ValueError, match="_rw_kept"):
        curate_batch(df2, "doc_id", "text", rw_clean=True)
