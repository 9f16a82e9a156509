"""End-to-end training-data curation stack — all operators composed.

lang filter -> quality -> corpus line dedup -> minhash near-dup clusters
(keep one per cluster) -> benchmark decontamination -> token-budget sample
-> sequence packing, at sf0.001.  Asserts the monotone row-count contract
of a filtering pipeline and bit-identical results across two runs (every
stage is hash-deterministic by design).
"""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _run_stack(spark):
    from entitymatchingmodel_spark.functions.sampling import (
        pack_sequences,
        per_group_cap,
        sample_to_mix,
        token_budget_sample,
    )
    from entitymatchingmodel_spark.functions.text import (
        lang_id,
        lang_id_kernel,
        quality_score,
    )
    from entitymatchingmodel_spark.operators.decontaminate import (
        benchmark_contamination,
    )
    from entitymatchingmodel_spark.operators.dedup import (
        duplicate_clusters,
        line_dedup,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    n0 = docs.count()

    # per-source cap + source-mix rebalance BEFORE language filtering —
    # the per-domain/mixture stages of a web-corpus pipeline
    docs = per_group_cap(docs, "doc_id", "source", max_per_group=40)
    docs = sample_to_mix(
        docs, "doc_id", "source",
        {s: 1.0 for s in [r["source"] for r in docs.select("source").distinct().collect()]},
    )

    # language mix keyed on the DETECTED language (char-trigram scorer) —
    # no reliance on a pre-supplied lang column; the synthetic corpus is
    # English-shaped so detected langs concentrate on en/und and the mix
    # keeps whatever detected groups exist.  The detect stage composes
    # via the KERNEL scorer, whose plan size is constant in the profile
    # dictionary (see functions/text.py's data-driven-shapes section)
    detected = docs.withColumn("det_lang", lang_id_kernel(F.col("text")))
    det_groups = [r["g"] for r in
                  detected.select(F.col("det_lang").alias("g")).distinct().collect()]
    docs = sample_to_mix(
        detected, "doc_id", "det_lang", {g: 1.0 for g in det_groups}
    ).drop("det_lang")

    filtered = (
        docs.filter(lang_id(F.col("text")) == "en")
        .withColumn("q", quality_score(F.col("text")))
        .filter(F.col("q") >= 0.3)
    )
    n1 = filtered.count()

    # corpus-wide line dedup over synthesized line breaks
    multi = filtered.select(
        "doc_id", F.regexp_replace("text", r"(([^ ]+ ){8})", "$1\n").alias("text")
    )
    deduped = line_dedup(multi, "doc_id", "text").filter(F.col("n_kept") > 0)
    n2 = deduped.count()

    # near-dup clustering, keep one representative per cluster
    sigs = minhash_signatures(deduped, "id", "text", num_hashes=32, shingle_n=3)
    pairs = minhash_lsh_pairs(sigs, bands=8, rows_per_band=4).filter(
        F.col("est_jaccard") >= 0.5
    )
    clusters = duplicate_clusters(deduped.select("id"), pairs)
    keep = clusters.filter(F.col("id") == F.col("cluster_id")).select("id")
    reps = deduped.join(keep, "id")
    n3 = reps.count()

    # decontaminate against a held-out slice
    bench = docs.filter(F.pmod("doc_id", F.lit(20)) == 0)
    cont = benchmark_contamination(reps, bench, "id", "text", ngram=5)
    clean = reps.join(cont.filter(F.col("contamination") <= 0.5).select("id"), "id")
    n4 = clean.count()

    # budget-sample then pack
    toks = F.filter(F.split(F.col("text"), "[^a-zA-Z0-9\\n]+"), lambda x: x != "")
    weighted = clean.select("id", F.size(toks).cast("long").alias("n_tokens"))
    sampled = token_budget_sample(weighted, "id", "n_tokens", budget=5_000)
    n5 = sampled.count()
    packed = pack_sequences(sampled, "id", "n_tokens", seq_len=128)
    rows = sorted(
        (r["chunk_id"], r["id"], r["doc_off"], r["chunk_off"], r["span_len"])
        for r in packed.collect()
    )
    return (n0, n1, n2, n3, n4, n5), rows


def test_curation_stack_composes_and_is_deterministic(spark):
    counts1, rows1 = _run_stack(spark)
    n0, n1, n2, n3, n4, n5 = counts1
    # monotone filtering contract, with every stage retaining something
    assert n0 >= n1 >= n2 >= n3 >= n4 >= n5 > 0
    assert rows1, "packing produced no spans"
    # full chunks carry exactly seq_len tokens
    per_chunk = {}
    for c, *_rest, sl in [(r[0], r[1], r[2], r[3], r[4]) for r in rows1]:
        per_chunk[c] = per_chunk.get(c, 0) + sl
    assert max(per_chunk.values()) <= 128

    counts2, rows2 = _run_stack(spark)
    assert counts2 == counts1 and rows2 == rows1, "stack must be deterministic"


def test_per_group_cap_bounds_and_nests(spark):
    from entitymatchingmodel_spark.functions.sampling import per_group_cap

    rows = [(i, f"g{i % 3}") for i in range(60)] + [(100 + i, "hot") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, grp string")
    capped5 = per_group_cap(df, "id", "grp", 5)
    sizes = {r["grp"]: r["n"] for r in
             capped5.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert all(n <= 5 for n in sizes.values())
    assert sizes["hot"] == 5, "skewed group must be capped exactly"
    # nesting: cap(3) subset of cap(5); determinism across calls
    ids3 = {r["id"] for r in per_group_cap(df, "id", "grp", 3).collect()}
    ids5 = {r["id"] for r in capped5.collect()}
    assert ids3 <= ids5
    assert ids5 == {r["id"] for r in per_group_cap(df, "id", "grp", 5).collect()}
    # cap 0 -> empty; negative -> error
    assert per_group_cap(df, "id", "grp", 0).count() == 0
    with pytest.raises(ValueError):
        per_group_cap(df, "id", "grp", -1)


def test_sample_to_mix_binding_group_and_shares(spark):
    from entitymatchingmodel_spark.functions.sampling import sample_to_mix

    rows = (
        [(i, "a") for i in range(1000)]
        + [(2000 + i, "b") for i in range(100)]
        + [(4000 + i, "c") for i in range(500)]
    )
    df = spark.createDataFrame(rows, "id long, grp string")
    # b is binding (100 rows / 0.25 share); a target = 0.5/0.25*100 = 200
    out = sample_to_mix(df, "id", "grp", {"a": 0.5, "b": 0.25, "c": 0.25})
    sizes = {r["grp"]: r["n"] for r in
             out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert sizes["b"] == 100, "binding group kept whole"
    assert abs(sizes["a"] - 200) <= 40, sizes  # hash sampling, ~expected
    assert abs(sizes["c"] - 100) <= 30, sizes
    # unlisted groups dropped; determinism
    assert set(sizes) == {"a", "b", "c"}
    again = {r["id"] for r in
             sample_to_mix(df, "id", "grp", {"a": 0.5, "b": 0.25, "c": 0.25}).collect()}
    assert again == {r["id"] for r in out.collect()}
    with pytest.raises(ValueError):
        sample_to_mix(df, "id", "grp", {})
    with pytest.raises(ValueError):
        sample_to_mix(df, "id", "grp", {"a": -1.0})


def test_temperature_mix_membership_matches_python_mirror(spark):
    """Exact membership: the kept set equals a pure-python replay of the
    documented sum-free fraction formula + md5 membership."""
    import hashlib

    from entitymatchingmodel_spark.functions.sampling import temperature_mix

    rows = (
        [(i, "a") for i in range(900)]
        + [(2000 + i, "b") for i in range(100)]
        + [(4000 + i, "c") for i in range(400)]
        + [(9000, None)]  # NULL group: dropped
    )
    df = spark.createDataFrame(rows, "id long, grp string")
    alpha = 0.5
    counts = {"a": 900, "b": 100, "c": 400}
    min_ratio = min(n / n**alpha for n in counts.values())
    fracs = {g: round(min(1.0, min_ratio * n**alpha / n), 12)
             for g, n in counts.items()}

    def h(key):
        return int(hashlib.md5(f"temp|{key}".encode()).hexdigest()[:7], 16) / 16**7

    expect = {i for i, g in rows if g is not None and h(i) < fracs[g]}
    got = {r["id"] for r in temperature_mix(df, "id", "grp", alpha).collect()}
    assert got == expect
    # binding group (smallest count) kept whole at alpha < 1
    assert fracs["b"] == 1.0
    assert sum(1 for i, g in rows if g == "b" and i in got) == 100


def test_temperature_mix_alpha_extremes(spark):
    from entitymatchingmodel_spark.functions.sampling import temperature_mix

    rows = [(i, "big") for i in range(800)] + [(9000 + i, "small") for i in range(50)]
    df = spark.createDataFrame(rows, "id long, grp string")
    # alpha=1: natural distribution — every fraction 1, everything kept
    assert temperature_mix(df, "id", "grp", 1.0).count() == 850
    # alpha=0: equal target shares — small binds (kept whole), big is
    # hash-downsampled toward 50 (expected value; hash sampling)
    out = temperature_mix(df, "id", "grp", 0.0)
    sizes = {r["grp"]: r["n"] for r in
             out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert sizes["small"] == 50
    assert abs(sizes["big"] - 50) <= 25, sizes
    with pytest.raises(ValueError):
        temperature_mix(df, "id", "grp", -0.1)
    # empty / all-NULL-group input: empty result, no crash
    empty = spark.createDataFrame([(1, None)], "id long, grp string")
    assert temperature_mix(empty, "id", "grp", 0.5).count() == 0


def test_per_group_cap_two_phase_equals_single_window(spark):
    """The skew-proof pre-cap must not change the result: global N
    smallest hashes per group are a subset of the per-bucket N smallest."""
    from entitymatchingmodel_spark.functions.sampling import per_group_cap

    rows = [(i, f"g{i % 5}") for i in range(500)]
    df = spark.createDataFrame(rows, "id long, grp string")
    for n in (1, 3, 17):
        two = {r["id"] for r in per_group_cap(df, "id", "grp", n).collect()}
        one = {r["id"] for r in
               per_group_cap(df, "id", "grp", n, salt_buckets=1).collect()}
        assert two == one, n


def test_sample_to_mix_zero_weight_groups_present_only(spark):
    """Groups present in df all carrying weight 0 must not crash the
    binding-group scan (round-5 advice): result is empty, loudly not a
    bare min()-of-empty ValueError."""
    from entitymatchingmodel_spark.functions.sampling import sample_to_mix

    df = spark.createDataFrame([(i, "a") for i in range(20)], "id long, grp string")
    out = sample_to_mix(df, "id", "grp", {"a": 0.0, "b": 1.0})
    assert out.count() == 0


def test_per_group_cap_validate_rejects_duplicate_keys(spark):
    """validate=True enforces the documented key-uniqueness contract the
    prefix-sum operators already have (round-5 advice)."""
    import pytest

    from entitymatchingmodel_spark.functions.sampling import per_group_cap

    dup = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "a")], "id long, grp string"
    )
    with pytest.raises(ValueError, match="not unique"):
        per_group_cap(dup, "id", "grp", 2, validate=True)
    # without validate the call still runs (documented caller contract)
    assert per_group_cap(dup, "id", "grp", 2).count() == 2
    uniq = spark.createDataFrame([(i, "a") for i in range(10)], "id long, grp string")
    assert per_group_cap(uniq, "id", "grp", 3, validate=True).count() == 3


def test_semantic_dedup_stage_on_real_embeddings(spark):
    """SemDeDup one-call stage over the real embeddings table: cluster
    sizes account for every input row, output is a subset keyed by min-id
    representatives, and the call is run-to-run deterministic."""
    from entitymatchingmodel_spark.operators.dedup import semantic_dedup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = emb.count()
    out = semantic_dedup(emb, "vec_id", "embedding", threshold=0.9, nlist=8)
    rows = out.collect()
    assert 0 < len(rows) <= n
    assert sum(r["cluster_size"] for r in rows) == n
    assert set(out.columns) == set(emb.columns) | {"cluster_size"}
    again = semantic_dedup(emb, "vec_id", "embedding", threshold=0.9, nlist=8).collect()
    key = lambda rs: sorted((r["vec_id"], r["cluster_size"]) for r in rs)
    assert key(rows) == key(again)


def test_temperature_mix_upsample_matches_python_mirror(spark):
    """allow_upsample=True: the emitted (id, copy) multiset equals a pure
    python replay of the documented max-anchored repeat formula + md5
    fractional gate; no original row is lost; anchor group untouched."""
    import hashlib
    import math

    from entitymatchingmodel_spark.functions.sampling import temperature_mix

    rows = (
        [(i, "a") for i in range(900)]
        + [(2000 + i, "b") for i in range(100)]
        + [(4000 + i, "c") for i in range(400)]
        + [(9000, None)]  # NULL group: dropped
    )
    df = spark.createDataFrame(rows, "id long, grp string")
    alpha = 0.5
    counts = {"a": 900, "b": 100, "c": 400}
    max_ratio = max(n / n**alpha for n in counts.values())
    reps = {g: round(max(1.0, max_ratio * n**alpha / n), 12)
            for g, n in counts.items()}

    def h(key, salt="temp"):
        return int(hashlib.md5(f"{salt}|{key}".encode()).hexdigest()[:7], 16) / 16**7

    expect = set()
    for i, g in rows:
        if g is None:
            continue
        r = reps[g]
        total = math.floor(r) + (1 if h(i) < r - math.floor(r) else 0)
        expect.update((i, c) for c in range(int(total)))

    out = temperature_mix(df, "id", "grp", alpha, allow_upsample=True)
    got = {(r["id"], r["copy"]) for r in out.collect()}
    assert out.count() == len(got)  # (id, copy) unique
    assert got == expect
    # anchor group a (largest at alpha<1) kept exactly whole, copy 0 only
    assert reps["a"] == 1.0
    assert sum(1 for i, c in got if i < 1000) == 900
    # no original row lost: every non-NULL id appears with copy 0
    assert {i for i, c in got if c == 0} == {i for i, g in rows if g is not None}
    # tail group b repeats ~3x (900/100)**0.5 = 3
    n_b = sum(1 for i, c in got if 2000 <= i < 3000)
    assert abs(n_b - 300) <= 30, n_b


def test_resample_to_mix_preserves_total_and_hits_shares(spark):
    """resample_to_mix: total preserved (+- fractional-gate noise), group
    shares move to the target weights, upsampled rows carry distinct
    copy indices, determinism across calls."""
    from entitymatchingmodel_spark.functions.sampling import resample_to_mix

    rows = (
        [(i, "a") for i in range(1000)]
        + [(2000 + i, "b") for i in range(100)]
        + [(4000 + i, "c") for i in range(500)]
    )
    df = spark.createDataFrame(rows, "id long, grp string")
    out = resample_to_mix(df, "id", "grp", {"a": 0.25, "b": 0.5, "c": 0.25})
    sizes = {r["grp"]: r["n"] for r in
             out.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    # targets: 1600 * (0.25, 0.5, 0.25) = (400, 800, 400)
    assert abs(sizes["a"] - 400) <= 50, sizes      # downsampled 1000 -> ~400
    assert abs(sizes["b"] - 800) <= 50, sizes      # upsampled 100 -> ~800 (8x)
    assert abs(sizes["c"] - 400) <= 50, sizes
    total = sum(sizes.values())
    assert abs(total - 1600) <= 90, total
    # b's integer repeats: every b id appears at least floor(8.0)=8 times
    b_counts = {}
    for r in out.filter(F.col("grp") == "b").collect():
        b_counts[r["id"]] = b_counts.get(r["id"], 0) + 1
    assert all(c >= 8 for c in b_counts.values())
    # determinism
    again = sorted((r["id"], r["copy"]) for r in resample_to_mix(
        df, "id", "grp", {"a": 0.25, "b": 0.5, "c": 0.25}).collect())
    assert again == sorted((r["id"], r["copy"]) for r in out.collect())
    # unlisted groups dropped; listed-but-absent redistribute (renormalize)
    out2 = resample_to_mix(df, "id", "grp", {"b": 0.5, "zzz": 0.5})
    sizes2 = {r["grp"]: r["n"] for r in
              out2.groupBy("grp").agg(F.count("*").alias("n")).collect()}
    assert set(sizes2) == {"b"} and sizes2["b"] == 100  # renormalized to 1.0
    with pytest.raises(ValueError):
        resample_to_mix(df, "id", "grp", {})
    with pytest.raises(ValueError):
        resample_to_mix(df, "id", "grp", {"a": -0.1})
    # all listed groups absent-or-zero: empty, same schema (with copy)
    out3 = resample_to_mix(df, "id", "grp", {"zzz": 1.0})
    assert out3.count() == 0 and "copy" in out3.columns


def test_temperature_mix_unbounded_matches_literal_path(spark):
    """The join-based unbounded-group formulation is semantically identical
    to the literal-chain path in BOTH modes (same hash membership, same
    rounded fraction/repeat chain, NULL groups dropped)."""
    from entitymatchingmodel_spark.functions.sampling import (
        temperature_mix,
        temperature_mix_unbounded,
    )

    rows = (
        [(i, "a") for i in range(900)]
        + [(2000 + i, "b") for i in range(100)]
        + [(4000 + i, "c") for i in range(400)]
        + [(9000, None)]
    )
    df = spark.createDataFrame(rows, "id long, grp string")
    for alpha in (0.0, 0.5, 0.7, 1.0):
        lit_ids = {r["id"] for r in temperature_mix(df, "id", "grp", alpha).collect()}
        join_ids = {
            r["id"]
            for r in temperature_mix_unbounded(df, "id", "grp", alpha).collect()
        }
        assert join_ids == lit_ids, f"alpha={alpha}"
        lit_up = {
            (r["id"], r["copy"])
            for r in temperature_mix(
                df, "id", "grp", alpha, allow_upsample=True
            ).collect()
        }
        join_up = {
            (r["id"], r["copy"])
            for r in temperature_mix_unbounded(
                df, "id", "grp", alpha, allow_upsample=True
            ).collect()
        }
        assert join_up == lit_up, f"alpha={alpha} upsample"
    # empty-group edge: all-NULL groups -> empty result, both paths
    nulls = spark.createDataFrame([(1, None), (2, None)], "id long, grp string")
    assert temperature_mix_unbounded(nulls, "id", "grp", 0.5).count() == 0
    assert (
        temperature_mix_unbounded(nulls, "id", "grp", 0.5, allow_upsample=True).count()
        == 0
    )


def test_temperature_mix_max_groups_guard_names_alternative(spark):
    """The literal-chain path refuses unbounded group cardinality with an
    error that names temperature_mix_unbounded (the embed_near_pairs /
    max_collect_rows idiom)."""
    from entitymatchingmodel_spark.functions.sampling import temperature_mix

    df = spark.range(200).select(
        F.col("id"), F.col("id").cast("string").alias("grp")
    )
    with pytest.raises(ValueError, match="temperature_mix_unbounded"):
        temperature_mix(df, "id", "grp", 0.5, max_groups=50)
    # under the cap it still works
    assert temperature_mix(df, "id", "grp", 1.0, max_groups=500).count() == 200


def test_repeat_factor_caps_fire_on_both_paths(spark):
    """A misconfigured mix (tiny group, huge implied repeat) fails loudly:
    driver-side ValueError on the literal path, in-plan raise_error on the
    join path — never a silent floor(r)-element array materialization."""
    from entitymatchingmodel_spark.functions.sampling import (
        resample_to_mix,
        temperature_mix,
        temperature_mix_unbounded,
    )

    df = spark.createDataFrame(
        [(i, "big") for i in range(2000)] + [(9999, "tiny")], "id long, g string"
    )
    with pytest.raises(ValueError, match="max_repeat"):
        temperature_mix(df, "id", "g", 0.0, allow_upsample=True, max_repeat=10)
    with pytest.raises(ValueError, match="max_repeat"):
        resample_to_mix(df, "id", "g", {"big": 0.5, "tiny": 0.5}, max_repeat=100)
    with pytest.raises(Exception, match="max_repeat"):
        temperature_mix_unbounded(
            df, "id", "g", 0.0, allow_upsample=True, max_repeat=10
        ).count()
