"""Structured Streaming transform path."""

import pytest
from pyspark.sql import functions as F

from entitymatchingmodel_spark import SparkEntityMatching
from entitymatchingmodel_spark.streaming import match_stream, transform_foreach_batch


@pytest.fixture(scope="module")
def fitted(spark):
    gt = spark.createDataFrame(
        [(1, "Apple Inc."), (2, "Microsoft Corp."), (3, "Netflix N.V."),
         (4, "Amazon Ltd"), (5, "Spotify AB")],
        "id long, name string",
    )
    em = SparkEntityMatching(
        indexers=[{"type": "cosine_similarity", "tokenizer": "characters",
                   "ngram": 2, "num_candidates": 2, "cos_sim_lower_bound": 0.1}]
    )
    return em.fit(gt)


_POOL = ["apple", "microsof corp", "netflx nv", "amazonn ltd"]


def _name_stream(spark):
    """rate source -> cycling company-name stream."""
    arr = F.array(*[F.lit(x) for x in _POOL])
    return (
        spark.readStream.format("rate").option("rowsPerSecond", 20).load()
        .select(
            F.col("value").alias("id"),
            F.element_at(arr, (F.col("value") % len(_POOL) + 1).cast("int")).alias("name"),
        )
    )


def test_foreach_batch_full_pipeline(spark, fitted, tmp_path):
    # a bounded file stream: processAllAvailable() returns once the four
    # pool names are processed (an unbounded rate source never drains
    # while a micro-batch takes longer than its one-second offset step)
    src = str(tmp_path / "names")
    spark.createDataFrame(
        list(enumerate(_POOL)), "id long, name string"
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("id long, name string").parquet(src)
    got = []

    def sink(df, batch_id):
        got.extend(df.collect())

    q = transform_foreach_batch(
        fitted, stream, sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert got, "no streaming output produced"
    row = next(r for r in got if r["name"] == "apple")
    assert row["gt_name"] == "Apple Inc."
    assert row["score_0"] > 0.1
    # full batch-transform schema incl. rank columns survived streaming
    assert "rank_0" in got[0].asDict()


def test_match_stream_requires_streaming_df(spark, fitted):
    static = spark.createDataFrame([(1, "apple")], "id long, name string")
    with pytest.raises(ValueError, match="streaming"):
        match_stream(fitted, static)


def test_match_stream_preprocesses(spark, fitted):
    out = match_stream(fitted, _name_stream(spark))
    assert out.isStreaming
    assert "preprocessed" in out.columns


def test_streaming_exact_dedup(spark, tmp_path):
    """Duplicates within the watermark horizon are suppressed exactly."""
    from entitymatchingmodel_spark.streaming import drop_exact_duplicates_stream

    src = str(tmp_path / "src")
    import os
    os.makedirs(src)
    df = spark.createDataFrame(
        [(1, "Hello World ", "2024-01-01 00:00:00"),
         (2, "hello world", "2024-01-01 00:00:10"),   # dup of 1 (normalized)
         (3, "another doc", "2024-01-01 00:00:20")],
        "doc_id long, text string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    df.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(src)
    deduped = drop_exact_duplicates_stream(stream, "text", "ts", watermark="1 hour")
    got = []
    q = (
        deduped.writeStream.foreachBatch(lambda b, i: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    hashes = [r["content_hash"] for r in got]
    assert len(got) == 2 and len(set(hashes)) == 2
    assert {r["text"].strip().lower() for r in got} == {"hello world", "another doc"}


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """session_window sessionization must agree with the batch sessionize
    operator on (user, session_start, session_end, n_events)."""
    import os

    from entitymatchingmodel_spark.operators.events import sessionize
    from entitymatchingmodel_spark.streaming import sessionize_stream

    rows = [
        (1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:10:00"),  # session A
        (1, "2024-01-01 02:00:00"),                               # session B (gap > 30m)
        (2, "2024-01-01 01:00:00"), (2, "2024-01-01 01:20:00"),  # session C
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    src = str(tmp_path / "sess_src")
    os.makedirs(src)
    df.coalesce(1).write.mode("overwrite").parquet(src)

    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize(df, gap_minutes=30).collect()
    }

    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    got = []
    q = (
        sessionize_stream(stream, gap_minutes=30)
        .writeStream.outputMode("complete")
        .foreachBatch(lambda b, i: (got.clear(), got.extend(b.collect())))
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in got
    }
    assert streamed == batch, (streamed, batch)


def test_stream_time_bounded_join_matches_batch(spark, tmp_path):
    """Stream-stream event-time join (watermarked, time-bounded condition —
    the bounded-state shape) must agree with the equivalent batch join."""
    import os

    from entitymatchingmodel_spark.streaming import stream_time_bounded_join

    ev = [
        (1, "2024-01-01 00:10:00"), (1, "2024-01-01 01:30:00"),
        (2, "2024-01-01 00:20:00"),
    ]
    pur = [
        (1, "2024-01-01 00:00:00", 5.0),   # within 1h of 00:10
        (1, "2024-01-01 01:00:00", 7.0),   # within 1h of 01:30
        (2, "2024-01-01 02:00:00", 9.0),   # after 00:20 -> no match
    ]
    lpdf = spark.createDataFrame(ev, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    rpdf = spark.createDataFrame(pur, "user_id long, r_ts string, value double").withColumn(
        "r_ts", F.col("r_ts").cast("timestamp"))
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    os.makedirs(lsrc); os.makedirs(rsrc)
    lpdf.coalesce(1).write.mode("overwrite").parquet(lsrc)
    rpdf.coalesce(1).write.mode("overwrite").parquet(rsrc)

    batch = {
        (r["user_id"], str(r["ts"]), r["value"])
        for r in lpdf.join(
            rpdf,
            (lpdf.user_id == rpdf.user_id)
            & (rpdf.r_ts >= lpdf.ts - F.expr("INTERVAL 3600 seconds"))
            & (rpdf.r_ts <= lpdf.ts),
        ).select(lpdf.user_id, "ts", "value").collect()
    }
    assert batch == {(1, "2024-01-01 00:10:00", 5.0), (1, "2024-01-01 01:30:00", 7.0)}

    ls = spark.readStream.schema("user_id long, ts timestamp").parquet(lsrc)
    rs = spark.readStream.schema("user_id long, r_ts timestamp, value double").parquet(rsrc)
    joined = stream_time_bounded_join(ls, rs, "user_id", lookback_seconds=3600)
    got = []
    q = (
        joined.writeStream.foreachBatch(lambda b, i: got.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_join"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    streamed = {(r["user_id"], str(r["ts"]), r["value"]) for r in got}
    assert streamed == batch


def test_stream_time_bounded_join_requires_streams(spark):
    from entitymatchingmodel_spark.streaming import stream_time_bounded_join

    static = spark.createDataFrame([(1,)], "user_id long")
    with pytest.raises(ValueError, match="streaming"):
        stream_time_bounded_join(static, static, "user_id")


def test_stream_join_state_bounded_by_watermark(spark, tmp_path):
    """The watermark + time-range coupling must keep stream-stream join
    state BOUNDED: feed 30 micro-batches whose event time advances far past
    watermark + lookback and assert, via the engine's own state-store
    metrics (stateOperators[].numRowsTotal), that retained state stays at
    ~window size instead of accumulating the whole stream.  Fails loudly if
    someone drops the watermark or the range condition from the join."""
    import datetime
    import json
    import os

    from entitymatchingmodel_spark.streaming import stream_time_bounded_join

    base = datetime.datetime(2024, 1, 1)
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    os.makedirs(lsrc)
    os.makedirs(rsrc)
    n_steps, per_step = 30, 5
    for step in range(n_steps):
        t0 = base + datetime.timedelta(minutes=10 * step)
        lrows = [(u, t0 + datetime.timedelta(seconds=30 * u)) for u in range(per_step)]
        rrows = [(u, t0 + datetime.timedelta(seconds=15 * u), float(step))
                 for u in range(per_step)]
        spark.createDataFrame(lrows, "user_id long, ts timestamp") \
            .coalesce(1).write.mode("append").parquet(lsrc)
        spark.createDataFrame(rrows, "user_id long, r_ts timestamp, value double") \
            .coalesce(1).write.mode("append").parquet(rsrc)

    ls = (spark.readStream.schema("user_id long, ts timestamp")
          .option("maxFilesPerTrigger", 1).parquet(lsrc))
    rs = (spark.readStream.schema("user_id long, r_ts timestamp, value double")
          .option("maxFilesPerTrigger", 1).parquet(rsrc))
    joined = stream_time_bounded_join(
        ls, rs, "user_id", lookback_seconds=300, watermark="5 minutes"
    )
    matched = []
    q = (
        joined.writeStream.foreachBatch(lambda b, i: matched.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .start()
    )
    try:
        q.processAllAvailable()
        progresses = [json.loads(p.json) if hasattr(p, "json") else p
                      for p in q.recentProgress]
    finally:
        q.stop()

    totals = [
        sum(op["numRowsTotal"] for op in p["stateOperators"])
        for p in progresses
        if p.get("stateOperators")
    ]
    totals = [t for t in totals if t > 0]
    assert len(totals) >= 10, f"expected many micro-batches, got {len(totals)}"
    ingested = n_steps * per_step * 2
    # bounded-state contract: retained rows ~ arrival-rate x (watermark +
    # lookback) ≈ 2 steps' worth (20 rows), never the whole stream (300)
    assert max(totals) <= 80, (max(totals), totals[-5:])
    assert totals[-1] <= 80 < ingested / 2
    assert matched, "join must still produce matches while evicting state"


def test_curate_stream_matches_batch_curation(spark, tmp_path):
    """Streaming ingestion curation (lang filter -> quality filter ->
    watermark dedup) must keep exactly the documents the equivalent batch
    curation keeps: same surviving content-hash set, one row per distinct
    hash, lang/quality audit columns attached."""
    import datetime
    import os

    from entitymatchingmodel_spark.functions.text import (
        lang_id_join_table,
        quality_score,
    )
    from entitymatchingmodel_spark.operators.dedup import exact_duplicates
    from entitymatchingmodel_spark.streaming import curate_stream

    T = datetime.datetime
    en = ("the quick brown fox and the dog went over the hills to the river "
          "in the morning and came back before the night")
    de = ("der schnelle fuchs und die hunde gingen durch den wald und die "
          "wiesen bevor die nacht kam und der morgen begann")
    rows = [
        (1, en, T(2024, 1, 1, 0, 0)),
        (2, en, T(2024, 1, 1, 0, 1)),            # exact duplicate of 1
        (3, de, T(2024, 1, 1, 0, 2)),            # wrong language
        (4, "zz", T(2024, 1, 1, 0, 3)),          # und + too short (quality)
        (5, en + " with an extra ending clause", T(2024, 1, 1, 0, 4)),
    ]
    src = str(tmp_path / "cur_src")
    os.makedirs(src)
    df = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    df.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("doc_id long, text string, ts timestamp").parquet(src)
    out = curate_stream(stream, "text", "ts", langs=("en",), min_quality=0.2)
    got = []
    q = (out.writeStream.foreachBatch(lambda b, i: got.extend(b.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt_curate")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # the batch side detects language with the pure-JVM join shape, so
    # the stream's kernel is checked against an independent scorer
    en_ids = lang_id_join_table(df, "doc_id", "text").filter(F.col("lang") == "en")
    batch_kept = (
        df.join(en_ids.select("doc_id"), "doc_id")
        .filter(quality_score(F.col("text")) >= 0.2)
    )
    want_hashes = {r["content_hash"] for r in
                   exact_duplicates(batch_kept, "doc_id", "text").collect()}
    got_hashes = {r["content_hash"] for r in got}
    assert got_hashes == want_hashes and len(got) == len(got_hashes)
    assert {r["doc_id"] for r in got} <= {1, 2, 5}
    assert all(r["lang"] == "en" and r["quality"] >= 0.2 for r in got)


def test_curate_stream_state_bounded_by_watermark(spark, tmp_path):
    """curate_stream's only stateful step is the watermark-bounded exact
    dedup: streaming hours of all-distinct documents through it must keep
    the state store at ~watermark-horizon size (hashes older than the
    horizon evicted), not accumulate one state row per document ever seen.
    Asserted via the progress metrics (stateOperators[].numRowsTotal),
    like the stream-stream join test above."""
    import datetime
    import json
    import os

    from entitymatchingmodel_spark.streaming import curate_stream

    base = datetime.datetime(2024, 1, 1)
    src = str(tmp_path / "cur_state_src")
    os.makedirs(src)
    en = ("the quick brown fox and the dog went over the hills to the "
          "river in the morning and came back before the night chapter")
    n_steps, per_step = 30, 4
    for step in range(n_steps):
        t0 = base + datetime.timedelta(minutes=10 * step)
        rows = [(step * per_step + i, f"{en} {step} {i}",
                 t0 + datetime.timedelta(seconds=10 * i))
                for i in range(per_step)]
        spark.createDataFrame(rows, "doc_id long, text string, ts timestamp") \
            .coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("doc_id long, text string, ts timestamp")
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = curate_stream(stream, "text", "ts", langs=("en",),
                        min_quality=0.2, watermark="10 minutes")
    kept = []
    q = (out.writeStream.foreachBatch(lambda b, i: kept.extend(b.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt_cur_state"))
         .start())
    try:
        q.processAllAvailable()
        progresses = [json.loads(p.json) if hasattr(p, "json") else p
                      for p in q.recentProgress]
    finally:
        q.stop()

    assert len(kept) == n_steps * per_step  # all distinct -> all kept
    totals = [
        sum(op["numRowsTotal"] for op in p["stateOperators"])
        for p in progresses
        if p.get("stateOperators")
    ]
    totals = [t for t in totals if t > 0]
    assert totals, "no state metrics captured"
    # horizon = 10-min watermark over 10-min steps: a handful of steps'
    # hashes at most; total docs = 120, so eviction must be visible
    assert max(totals) < n_steps * per_step / 2, totals


def test_curate_stream_url_dedup_stage(spark, tmp_path):
    """curate_stream(url_col=...) runs C4's URL dedup FIRST, then the
    lang/quality filters, then content dedup — two watermark-bounded
    stateful stages in one query.  URL-variant duplicates of one page are
    suppressed even when their text differs slightly (URL stage), and
    identical-content pages on different URLs still collapse (content
    stage)."""
    import datetime
    import os

    from entitymatchingmodel_spark.streaming import curate_stream

    T = datetime.datetime
    en = ("the quick brown fox and the dog went over the hills to the river "
          "in the morning and came back before the night")
    rows = [
        # same page, three URL variants, text drifts (retracked ads etc.)
        (1, "https://www.news.com/story?utm=a", en, T(2024, 1, 1, 0, 0)),
        (2, "news.com/story", en + " updated", T(2024, 1, 1, 0, 1)),
        (3, "NEWS.com/story#top", en + " updated twice", T(2024, 1, 1, 0, 2)),
        # different URL, identical content to 1 -> caught by content dedup
        (4, "https://mirror.org/copy", en, T(2024, 1, 1, 0, 3)),
        # distinct page
        (5, "https://news.com/other", en + " another story entirely",
         T(2024, 1, 1, 0, 4)),
    ]
    src = str(tmp_path / "cur_url_src")
    os.makedirs(src)
    df = spark.createDataFrame(
        rows, "doc_id long, url string, text string, ts timestamp"
    )
    df.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "doc_id long, url string, text string, ts timestamp"
    ).parquet(src)
    out = curate_stream(stream, "text", "ts", langs=("en",), min_quality=0.2,
                        url_col="url")
    got = []
    q = (out.writeStream.foreachBatch(lambda b, i: got.extend(b.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt_cur_url")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ids = sorted(r["doc_id"] for r in got)
    # URL stage keeps exactly one of {1,2,3} (the first arrival, doc 1,
    # verified by the url_norm set below) plus 4 and 5; the content stage
    # then collapses {1, 4} (identical text) to ONE row — which of the two
    # wins within a single micro-batch is partition-order dependent, so
    # assert the multiset shape, not the winner
    assert len(ids) == 2 and ids[1] == 5 and ids[0] in (1, 4), ids
    assert sorted(str(r["url_norm"]) for r in got) == sorted(
        ["news.com/other", "news.com/story" if ids[0] == 1 else "mirror.org/copy"]
    )
    assert all("content_hash" in r.asDict() for r in got)


def test_curate_stream_perplexity_gate_matches_batch(spark, tmp_path):
    """The CCNet streaming posture: FIT the bigram LM on a clean slice,
    SAVE, LOAD, then gate an availableNow stream on perplexity.  The
    stream's kept set and perplexity values are pinned EQUAL to the batch
    scorer's on the same rows; unscorable (<2 token) rows are dropped by
    the gate."""
    import datetime
    import os

    from entitymatchingmodel_spark.operators.lm import BigramLM
    from entitymatchingmodel_spark.streaming import curate_stream

    T = datetime.datetime
    en = ("the quick brown fox and the dog went over the hills to the river "
          "in the morning and came back before the night")
    rows = [
        (1, en, T(2024, 1, 1, 0, 0)),                       # in-distribution
        (2, en + " and the fox came back again", T(2024, 1, 1, 0, 1)),
        (3, "zx qv jj kw zz pp qq ww ee rr tt yy uu ii oo "
            "the and of to in is that it was he", T(2024, 1, 1, 0, 2)),  # junk
        (4, "x", T(2024, 1, 1, 0, 3)),                      # unscorable
    ]
    src = str(tmp_path / "lm_gate_src")
    os.makedirs(src)
    df = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    df.coalesce(1).write.mode("overwrite").parquet(src)

    # fit on the clean slice, persist, reload — no fit-session state leaks
    ref = df.filter("doc_id <= 2")
    model = BigramLM.fit(ref, "text", score_decimals=6)
    path = str(tmp_path / "lm_gate_model")
    model.save(path)
    model.unpersist()
    loaded = BigramLM.load(spark, path)
    try:
        batch = {
            r["doc_id"]: r["perplexity"]
            for r in loaded.score(df, "doc_id", "text").collect()
        }
        cut = sorted(v for v in batch.values() if v is not None)[1]  # keep 2 best

        stream = spark.readStream.schema(
            "doc_id long, text string, ts timestamp"
        ).parquet(src)
        out = curate_stream(stream, "text", "ts", langs=(), min_quality=0.0,
                            lm_model=loaded, max_perplexity=cut)
        got = []
        q = (out.writeStream.foreachBatch(lambda b, i: got.extend(b.collect()))
             .option("checkpointLocation", str(tmp_path / "ckpt_lm_gate")).start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        kept = {r["doc_id"]: r["perplexity"] for r in got}
        want = {i: p for i, p in batch.items() if p is not None and p <= cut}
        assert kept == want, (kept, want)
        assert 4 not in kept  # unscorable dropped by the gate
        assert all("avg_logp" in r.asDict() and "n_bigrams" in r.asDict() for r in got)
        # misconfiguration guard
        with pytest.raises(ValueError, match="together"):
            curate_stream(stream, "text", "ts", lm_model=loaded)
    finally:
        loaded.unpersist()


def test_curate_stream_blocklist_stage_matches_batch(spark, tmp_path):
    """curate_stream(blocklist=...) drops any page with a blocked-token
    hit via a STATELESS projection, pinned equal to the batch screen
    (blocked_terms_table keep flag) on the same rows; validation rejects
    non-lowercase terms before any stream starts."""
    import datetime
    import os

    import pytest as _pytest

    from entitymatchingmodel_spark.functions.text import blocked_terms_table
    from entitymatchingmodel_spark.streaming import curate_stream

    T = datetime.datetime
    clean = ("the quick brown fox and the dog went over the hills to the "
             "river in the morning and came back before the night")
    dirty = ("the quick brown fox saw spam near the river in the morning "
             "and the dog went back to the hills before the night came")
    rows = [
        (1, clean, T(2024, 1, 1, 0, 0)),
        (2, dirty, T(2024, 1, 1, 0, 1)),   # blocked token 'spam'
        (3, clean + " and then slept", T(2024, 1, 1, 0, 2)),
    ]
    src = str(tmp_path / "bl_src")
    os.makedirs(src)
    df = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    df.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(src)
    with _pytest.raises(ValueError, match="lowercase"):
        curate_stream(stream, "text", "ts", blocklist=("Spam",))

    out = curate_stream(
        stream, "text", "ts", langs=("en",), min_quality=0.2,
        blocklist=("spam", "junk"),
    )
    got = []
    q = (out.writeStream.foreachBatch(lambda b, i: got.extend(b.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt_bl")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch_keep = {
        r["doc_id"]
        for r in blocked_terms_table(df, "doc_id", "text", ["spam", "junk"])
        .filter("keep").collect()
    }
    assert {r["doc_id"] for r in got} == batch_keep == {1, 3}


def test_curate_stream_dsir_gate_matches_batch(spark, tmp_path):
    """curate_stream(dsir_ratios=..., min_dsir=...) gates rows by DSIR
    target-likeness through the STATELESS rowwise scorer, pinned equal
    to the batch dsir_scores filter on the same rows; mismatched args
    fail fast before any stream starts."""
    import datetime
    import os

    import pytest as _pytest

    from entitymatchingmodel_spark.functions.selection import (
        dsir_bucket_logratios,
        dsir_scores,
    )
    from entitymatchingmodel_spark.streaming import curate_stream

    T = datetime.datetime
    targetish = ("the quick brown fox and the dog went over the hills to "
                 "the river in the morning and came back before the night")
    spammy = ("click here buy now great offer deal discount sale cheap "
              "prices best value limited time only act fast and buy today")
    rows = [
        (1, targetish, T(2024, 1, 1, 0, 0)),
        (2, spammy, T(2024, 1, 1, 0, 1)),
        (3, targetish + " and then slept by the water", T(2024, 1, 1, 0, 2)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    target = df.filter("doc_id = 1").select("doc_id", "text")
    ratios = dsir_bucket_logratios(
        target, df.select("doc_id", "text"), "doc_id", "text", n_buckets=256
    )
    # threshold between the spam score and the target-like scores
    scores = {r["doc_id"]: r["dsir_logratio"] for r in
              dsir_scores(df, ratios, "doc_id", "text", n_buckets=256).collect()}
    thresh = (scores[2] + min(scores[1], scores[3])) / 2
    batch_keep = {i for i, s in scores.items() if s >= thresh}
    assert batch_keep == {1, 3}

    src = str(tmp_path / "dsir_src")
    os.makedirs(src)
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(src)
    with _pytest.raises(ValueError, match="set together"):
        curate_stream(stream, "text", "ts", dsir_ratios=ratios)

    out = curate_stream(
        stream, "text", "ts", langs=(), min_quality=0.0,
        dsir_ratios=ratios, min_dsir=thresh, dsir_n_buckets=256,
    )
    got = []
    q = (out.writeStream.foreachBatch(lambda b, i: got.extend(b.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt_dsir")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert {r["doc_id"] for r in got} == batch_keep
    assert all(r["dsir_logratio"] >= thresh for r in got)


def test_curate_stream_c4_stage_matches_batch(spark, tmp_path):
    """curate_stream(c4_clean=True) rewrites pages to their retained
    lines and drops pages failing the C4 page rules, via STATELESS
    expressions — pinned equal to the batch c4_rules_table on the same
    rows (keep verdicts AND rewritten text); downstream content dedup
    hashes the CLEANED text, so two pages whose differences are only in
    dropped lines collapse to one."""
    import datetime
    import os

    from entitymatchingmodel_spark.functions.text import c4_rules_table
    from entitymatchingmodel_spark.streaming import curate_stream

    T = datetime.datetime
    good = "The quick brown fox went over the hills number %d."
    body = "\n".join(good % i for i in range(6))
    rows = [
        # kept: 6 clean sentences
        (1, body, T(2024, 1, 1, 0, 0)),
        # kept, and its javascript line is REMOVED -> same cleaned text
        # as doc 1 -> content dedup collapses it onto doc 1
        (2, body + "\nPlease enable javascript to continue here.",
         T(2024, 1, 1, 0, 1)),
        # dropped: lorem ipsum page rule
        (3, body + "\nDecorative lorem ipsum filler sentence sits here.",
         T(2024, 1, 1, 0, 2)),
        # dropped: only 3 sentences < 5
        (4, "\n".join(good % i for i in range(3)), T(2024, 1, 1, 0, 3)),
    ]
    src = str(tmp_path / "c4_src")
    os.makedirs(src)
    df = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    df.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp"
    ).parquet(src)
    out = curate_stream(
        stream, "text", "ts", langs=(), min_quality=0.0, c4_clean=True
    )
    got = []
    q = (out.writeStream.foreachBatch(lambda b, i: got.extend(b.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt_c4")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    table = {r["doc_id"]: r for r in
             c4_rules_table(df, "doc_id", "text").collect()}
    # page verdicts match the batch table
    assert table[1]["keep"] and table[2]["keep"]
    assert not table[3]["keep"] and not table[4]["keep"]
    # stream: doc 3 and 4 dropped by the page rules; doc 2's cleaned
    # text equals doc 1's, so the dedup stage keeps only the first
    assert {r["doc_id"] for r in got} == {1}
    (surv,) = [r for r in got if r["doc_id"] == 1]
    assert surv["text"] == table[1]["kept_text"] == body
    assert table[2]["kept_text"] == body
