"""Pin the physical-plan shape of core operators (perf regression guard)."""

import pytest
from pyspark.sql import functions as F

from entitymatchingmodel_spark.operators.cossim_indexer import CosSimIndexer
from entitymatchingmodel_spark.operators.dedup import exact_duplicates
from entitymatchingmodel_spark.plans import (
    broadcast_join_count,
    exchange_count,
    pushed_filters,
    scan_columns,
)

SF_DIR = "/root/testdata/sf0.001"


def test_filter_and_column_pushdown(spark):
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    q = part.filter(F.col("p_partkey") < 100).select("p_name")
    assert any("p_partkey" in f for f in pushed_filters(q)), "filter not pushed to scan"
    cols = scan_columns(q)
    assert cols and set(cols[0]) <= {"p_partkey", "p_name"}, f"column pruning failed: {cols}"


def test_exact_dedup_single_shuffle(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = exact_duplicates(docs, "doc_id", "text")
    assert exchange_count(out) <= 1, "exact dedup must be one hash-agg shuffle"


def test_minhash_signatures_single_shuffle_no_interpreted_hofs(spark):
    """MinHash must be one hash-aggregate shuffle of codegen'd min()
    aggregates — not per-element interpreted array HOFs (array_min over
    transform), which were measured ~7x slower at sf0.1."""
    from entitymatchingmodel_spark.operators.dedup import minhash_signatures
    from entitymatchingmodel_spark.plans import explain_str

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=32)
    assert exchange_count(sigs) <= 1, "minhash must shuffle once (on doc id)"
    plan = explain_str(sigs)
    assert "array_min" not in plan, "permutation minima must be min() aggregates"
    assert "partial_min" in plan, "map-side partial aggregation missing"


def test_simhash_single_shuffle_no_interpreted_hofs(spark):
    """SimHash mirrors the minhash shape: one hash-aggregate shuffle of
    codegen'd sum() vote aggregates, no per-element interpreted HOFs."""
    from entitymatchingmodel_spark.operators.dedup import simhash
    from entitymatchingmodel_spark.plans import explain_str

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = simhash(docs, "doc_id", "text")
    assert exchange_count(out) <= 1
    plan = explain_str(out)
    assert "partial_sum" in plan, "map-side partial aggregation missing"
    assert "aggregate(" not in plan, "vote sums must be sum() aggregates"


def test_broadcast_cossim_transform_has_no_shuffle_after_vectorize(spark):
    gt = (
        spark.read.parquet(f"{SF_DIR}/part.parquet")
        .groupBy(F.col("p_name").alias("preprocessed"))
        .agg(F.min("p_partkey").alias("gt_uid"))
    )
    names = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        F.col("p_partkey").alias("uid"), F.col("p_name").alias("preprocessed")
    )
    inv = CosSimIndexer(strategy="inverted", k=3, lower_bound=0.1).fit(gt)
    bc = CosSimIndexer(strategy="broadcast", k=3, lower_bound=0.1).fit(gt)
    n_inv = exchange_count(inv.transform(names))
    n_bc = exchange_count(bc.transform(names))
    # the kernel path trades the token-join + pair-agg shuffles for one
    # uid grouping before the kernel; it must shuffle strictly less
    assert n_bc < n_inv, (n_bc, n_inv)


def test_bucketized_gt_index_fewer_shuffles_same_result(spark, tmp_path):
    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    gt = part.groupBy(F.col("p_name").alias("preprocessed")).agg(
        F.min("p_partkey").alias("gt_uid")
    )
    names = part.select(
        F.col("p_partkey").alias("uid"), F.col("p_name").alias("preprocessed")
    )
    m = CosSimIndexer(tokenizer="words", ngram=1, k=3, lower_bound=0.1,
                      score_decimals=6).fit(gt)
    plain = m.transform(names)
    res_plain = sorted((r["uid"], r["gt_uid"], r["score"]) for r in plain.collect())
    n_plain = exchange_count(plain)

    m.bucketize("gt_idx_bucket_test", buckets=8)
    bucketed = m.transform(names)
    res_bucketed = sorted((r["uid"], r["gt_uid"], r["score"]) for r in bucketed.collect())
    assert res_plain == res_bucketed
    assert exchange_count(bucketed) < n_plain
    spark.sql("DROP TABLE IF EXISTS gt_idx_bucket_test")


def test_blocking_is_a_join_key(spark):
    """J2: the block column must be part of the equi-join keys (search-space
    pruning in the join itself), not a post-join filter."""
    from entitymatchingmodel_spark.operators.cossim_indexer import first_char_block
    from entitymatchingmodel_spark.plans import explain_str

    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    gt = part.groupBy(F.col("p_name").alias("preprocessed")).agg(
        F.min("p_partkey").alias("gt_uid")
    )
    names = part.select(
        F.col("p_partkey").alias("uid"), F.col("p_name").alias("preprocessed")
    )
    m = CosSimIndexer(
        tokenizer="characters", ngram=2, k=3, lower_bound=0.2,
        blocking_func=first_char_block, score_decimals=6,
    ).fit(gt)
    plan = explain_str(m.transform(names))
    keyed = [
        ln for ln in plan.splitlines()
        if ("keys" in ln.lower() or "hashpartitioning" in ln)
        and "token" in ln and "block" in ln
    ]
    assert keyed, plan[:2000]


def test_decontamination_broadcasts_hashed_bench_side(spark):
    """The benchmark side must reach the join as a BROADCAST on the 8-byte
    hashed shingle key — never a shuffle of raw n-gram strings."""
    from entitymatchingmodel_spark.operators.decontaminate import (
        benchmark_contamination,
    )
    from entitymatchingmodel_spark.plans import explain_str

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    rest = docs.filter(F.col("doc_id") % 20 != 0)
    out = benchmark_contamination(rest, bench, "doc_id", "text", ngram=5)
    plan = explain_str(out)
    assert broadcast_join_count(out) >= 1, plan
    assert "xxhash64" in plan, "join key must be the hashed shingle"


def test_vocab_joined_tier_join_is_broadcast(spark):
    from entitymatchingmodel_spark.operators.features import (
        fit_vocab_tiers,
        vocabulary_features,
    )

    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    names = part.select(F.col("p_name").alias("preprocessed")).distinct()
    pairs = part.select(
        F.col("p_partkey").alias("uid"),
        (F.col("p_partkey") + 1).alias("gt_uid"),
        F.col("p_name").alias("preprocessed"),
        F.col("p_name").alias("gt_preprocessed"),
    )
    tiers = fit_vocab_tiers(names, ["preprocessed"],
                            very_common_min_df=0.05, common_min_df=0.001)
    out = vocabulary_features(pairs, tiers, ["uid", "gt_uid"])
    assert broadcast_join_count(out) >= 1


def test_supervised_tiers_featurize_pins_broadcast(spark):
    """The supervised fit path's vocabulary features must reach the plan as
    a broadcast tier join (no literal token arrays, no driver collect)."""
    from entitymatchingmodel_spark.operators.features import fit_vocab_tiers
    from entitymatchingmodel_spark.operators.supervised import SupervisedModel

    part = spark.read.parquet(f"{SF_DIR}/part.parquet").limit(200)
    cands = part.select(
        F.col("p_partkey").alias("uid"),
        (F.col("p_partkey") + 1).alias("gt_uid"),
        F.col("p_name").alias("preprocessed"),
        F.col("p_name").alias("gt_preprocessed"),
        F.lit(0.5).alias("score_0"),
    )
    tiers = fit_vocab_tiers(cands, ["preprocessed", "gt_preprocessed"],
                            very_common_min_df=0.05, common_min_df=0.001)
    model = SupervisedModel(None, [], "score_0", vocab_tiers=tiers)
    out = model._featurize(cands)
    assert broadcast_join_count(out) >= 1


def test_pair_features_one_python_eval(spark):
    """All four string similarities (Jaro-Winkler and the three fuzz
    ratios) come from one pandas UDF: the plan holds exactly one
    ArrowEvalPython node, and that node evaluates exactly one UDF."""
    import re

    from entitymatchingmodel_spark.operators.features import pair_features
    from entitymatchingmodel_spark.plans import explain_str

    pairs = spark.createDataFrame(
        [(1, 2, "acme holdings bv", "acme holding b v"),
         (3, 4, "kitten", "sitting")],
        "uid long, gt_uid long, preprocessed string, gt_preprocessed string",
    )
    plan = explain_str(pair_features(pairs), "simple")
    nodes = re.findall(r"ArrowEvalPython \[.*?\], \[(.*?)\]", plan)
    assert len(nodes) == 1, plan
    assert len(re.findall(r"pythonUDF\d+#", nodes[0])) == 1, plan


def test_per_group_cap_single_shuffle_sample_mix_map_only(spark):
    """per_group_cap = exactly one exchange (the group window);
    sample_to_mix's returned plan is a pure map-side filter — its only
    shuffle is the eager bounded per-group count at call time."""
    from entitymatchingmodel_spark.functions.sampling import (
        per_group_cap,
        sample_to_mix,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # skew-proof two-phase rank: pre-cap window on (group, bucket) + final
    # window on group — two narrow exchanges, never one mega-group sort
    capped = per_group_cap(docs, "doc_id", "source", 5)
    assert exchange_count(capped) == 2
    assert exchange_count(per_group_cap(docs, "doc_id", "source", 5,
                                        salt_buckets=1)) == 1

    mixed = sample_to_mix(docs, "doc_id", "lang", {"en": 0.5, "de": 0.5})
    assert exchange_count(mixed) == 0, "mixture filter must stay map-only"


def test_drop_exact_duplicates_is_one_agg_no_window(spark):
    """min-struct aggregate (map-side combinable), never a per-group
    window sort; map-typed columns fall back to the window formulation."""
    from entitymatchingmodel_spark.operators.dedup import drop_exact_duplicates
    from entitymatchingmodel_spark.plans import explain_str

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = drop_exact_duplicates(docs, "doc_id", "text")
    plan = explain_str(out)
    assert exchange_count(out) == 1
    assert "Window" not in plan, plan[:1500]

    mapped = docs.withColumn("m", F.create_map(F.lit("k"), F.col("lang")))
    fb = drop_exact_duplicates(mapped, "doc_id", "text")
    assert "Window" in explain_str(fb)
    assert fb.count() == out.count()


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Two tables bucketed on the join key with the SAME bucket count must
    join with ZERO shuffle exchanges (the storage layout carries the hash
    distribution), where the identical plain-parquet join shuffles both
    sides — the co-located-join contract write_bucketed exists for."""
    from pyspark.sql import functions as F

    from entitymatchingmodel_spark.plans import exchange_count, explain_str
    from entitymatchingmodel_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )

    gt = spark.range(0, 2000).select(
        F.col("id").alias("uid"), (F.col("id") % 7).alias("w")
    )
    names = spark.range(0, 5000).select(
        F.pmod(F.col("id"), F.lit(2000)).alias("uid"),
        (F.col("id") % 13).alias("v"),
    )
    write_bucketed(gt, "t_bucket_gt", "uid", 8, sort_cols="uid")
    write_bucketed(names, "t_bucket_names", "uid", 8, sort_cols="uid")
    try:
        a = read_bucketed(spark, "t_bucket_gt")
        b = read_bucketed(spark, "t_bucket_names")
        # force the sort-merge path so the comparison is exchange counts,
        # not broadcast-vs-not.  Save/restore the session value: unset()
        # falls back to Spark's 10MB default, NOT the builder's 64MB, and
        # the leaked smaller threshold flips estimate-borderline joins in
        # later plan tests to SortMergeJoin.
        old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bucketed_join = a.join(b, "uid").groupBy("uid").agg(F.sum("v").alias("s"))
            plain_join = gt.join(names, "uid").groupBy("uid").agg(F.sum("v").alias("s"))
            nb = exchange_count(bucketed_join)
            np_ = exchange_count(plain_join)
            assert nb == 0, explain_str(bucketed_join)
            assert np_ >= 2, f"plain join should shuffle both sides, saw {np_}"
            # same answer either way
            got_b = {(r["uid"], r["s"]) for r in bucketed_join.collect()}
            got_p = {(r["uid"], r["s"]) for r in plain_join.collect()}
            assert got_b == got_p
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucket_gt")
        spark.sql("DROP TABLE IF EXISTS t_bucket_names")


def test_incremental_dedup_bucketed_index_no_exchange(spark):
    """The operator docstring's promise (dedup.py dedup_against_index):
    with the content index persisted BUCKETED on content_hash, the
    index side of the LEFT ANTI join plans NO exchange — only the new
    snapshot shuffles (1 exchange), where a plain-parquet index shuffles
    both sides (2).  This is the write_bucketed -> read -> anti-join
    cycle incremental dedup runs snapshot-over-snapshot at scale."""
    from pyspark.sql import functions as F

    from entitymatchingmodel_spark.operators.dedup import (
        build_content_index,
        dedup_against_index,
    )
    from entitymatchingmodel_spark.plans import exchange_count, explain_str
    from entitymatchingmodel_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    seen_plain = build_content_index(
        docs.where(F.col("doc_id") % 3 == 0), "text"
    )
    write_bucketed(seen_plain, "t_content_index", "content_hash", 8)
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        seen_bucketed = read_bucketed(spark, "t_content_index")
        fresh_b = dedup_against_index(docs, "text", seen_bucketed)
        fresh_p = dedup_against_index(docs, "text", seen_plain)
        nb, np_ = exchange_count(fresh_b), exchange_count(fresh_p)
        assert nb == 1, explain_str(fresh_b)[:1500]
        assert np_ == 2, f"plain index should shuffle both sides, saw {np_}"
        assert ({r["doc_id"] for r in fresh_b.collect()}
                == {r["doc_id"] for r in fresh_p.collect()})
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.sql("DROP TABLE IF EXISTS t_content_index")


def test_tpch_q6_scan_pushdown(spark):
    """Q6-shape: every predicate reaches the parquet scan and the scan
    reads only the 4 referenced columns — at 100 TB the scan cost IS the
    query cost, so pushdown is the whole plan."""
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"))
    )
    # the executed plan TRUNCATES long scan metadata (six pushed filters
    # overflow it), so read the formatted explain for this assertion
    from entitymatchingmodel_spark.plans import explain_str
    import re

    plan = explain_str(q)
    pf = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pf, "no PushedFilters section in the scan"
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pf.group(1), f"{col} filter not pushed to the scan: {pf.group(1)}"
    rs = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0].strip() for c in rs.group(1).split(",") if c.strip()}
    assert cols <= {
        "l_shipdate", "l_discount", "l_quantity", "l_extendedprice"
    }, f"column pruning failed: {cols}"


def test_tpch_q3_broadcasts_filtered_dim(spark):
    """Q3-shape: the filtered customer dim must broadcast (explicit hint)
    — never a shuffle of the fact side on c_custkey just to reach a
    small dim."""
    import importlib.util
    from pathlib import Path

    entry = Path(__file__).resolve().parent.parent / "__spark_entry__.py"
    spec = importlib.util.spec_from_file_location("e", str(entry))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    q = mod.q_tpch_q3_shipping(spark, SF_DIR)
    assert broadcast_join_count(q) >= 1, "customer dim not broadcast"
    from entitymatchingmodel_spark.plans import explain_str

    plan = explain_str(q)
    assert "TakeOrderedAndProject" in plan, "top-10 must be TakeOrderedAndProject, not a global sort"
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_exact_quantiles_no_global_window_or_sort(spark):
    """The quantile plan must never funnel all values through one task:
    no un-partitioned window, no global sort; the only windows are
    partitioned by the range bucket."""
    from entitymatchingmodel_spark.functions.stats import exact_quantiles
    from entitymatchingmodel_spark.plans import explain_str

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = exact_quantiles(li, "l_extendedprice", (0.25, 0.5, 0.75), n_buckets=16)
    plan = explain_str(q)
    # every Window in the plan carries a partition spec (windowspecdefinition
    # with a partitionBy renders as "Window [...], [_b#..." — an empty
    # partition list would print "Window [...], [," with no partition cols)
    import re

    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert "_b" in m.group(1) or "windowspecdefinition" in m.group(1), (
            "un-partitioned window in quantile plan: " + m.group(0)[:120]
        )
    # a global top-level sort would appear as an Exchange rangepartitioning
    assert "rangepartitioning" not in plan, "global sort leaked into the quantile plan"


def test_kmeans_final_plan_is_scan_broadcast_window(spark):
    """kmeans_clusters' returned plan (iterations already materialized
    behind localCheckpoint) must be: one corpus scan -> bounded broadcast
    assignment -> one id-partitioned window; no extra shuffles."""
    from entitymatchingmodel_spark.operators.clustering import kmeans_clusters
    from entitymatchingmodel_spark.plans import explain_str

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = kmeans_clusters(emb, "vec_id", "embedding", k=4, n_iter=1,
                        score_decimals=6, cent_decimals=6)
    plan = explain_str(q)
    # count tree occurrences only (the formatted detail section repeats
    # the node name once more per node)
    assert plan.count("BroadcastNestedLoopJoin Cross") == 1, (
        "exactly one bounded centroid broadcast expected in the final assignment"
    )
    assert exchange_count(q) <= 2, "final assignment should shuffle only for the id window"


def test_r8_map_only_operators_no_shuffle(spark):
    """The r8 scan-shaped operators must stay EXCHANGE-FREE: chunking,
    Gopher rules, URL normalization and the repeat-explode resamplers
    are pure projections/filters — a shuffle appearing here is a plan
    regression (at 100 TB these run as a single pass over the corpus)."""
    from entitymatchingmodel_spark.functions.sampling import _group_repeat_explode
    from entitymatchingmodel_spark.functions.text import (
        chunk_documents,
        gopher_rules_table,
    )
    from entitymatchingmodel_spark.functions.web import url_normalize

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert exchange_count(chunk_documents(docs, "doc_id", "text", 32, 8)) == 0
    assert exchange_count(gopher_rules_table(docs, "doc_id", "text")) == 0
    assert exchange_count(
        docs.select(url_normalize(F.col("source")).alias("u"))
    ) == 0
    assert exchange_count(
        _group_repeat_explode(docs, "doc_id", "lang", {"en": 2.5}, "s")
    ) == 0
    # column pruning reaches the scan through the chunk explode
    cols = scan_columns(chunk_documents(docs, "doc_id", "text", 32, 8))
    assert cols and set(cols[0]) <= {"doc_id", "text"}, cols


def test_r8_aggregate_operators_bounded_shuffles(spark):
    """corpus_profile is ONE map-side-combined aggregate (single
    exchange); top_terms is the (group, token) count exchange plus the
    top-k window over the AGGREGATED vocabulary (two exchanges, never
    a corpus-row window)."""
    from entitymatchingmodel_spark.functions.text import corpus_profile, top_terms

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert exchange_count(corpus_profile(docs, "source", "text")) == 1
    assert exchange_count(top_terms(docs, "lang", "text", 5)) <= 2


def test_temperature_mix_unbounded_join_based_no_collect_no_chain(spark):
    """The unbounded-group mixture op is fully in-plan: constructing it
    runs ZERO jobs (no driver collect of group counts), the fraction
    reaches rows via a join on the group column (no literal when-chain —
    plan size is independent of group cardinality), and no nested-loop /
    cartesian join appears (the one-row anchor rides a broadcast HASH
    equi-join on a non-foldable key)."""
    from entitymatchingmodel_spark.functions.sampling import (
        temperature_mix_unbounded,
    )
    from entitymatchingmodel_spark.plans import explain_str

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sc = spark.sparkContext
    group = "plan-shape-tmu"
    sc.setJobGroup(group, "construction must be lazy")
    try:
        out = temperature_mix_unbounded(docs, "doc_id", "source", 0.5)
        out_up = temperature_mix_unbounded(
            docs, "doc_id", "source", 0.5, allow_upsample=True
        )
        plan = explain_str(out)
        plan_up = explain_str(out_up)
    finally:
        sc.setJobGroup("", "")
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], (
        "constructing/explaining the unbounded mixture plan ran a job "
        "(driver collect leaked back in)"
    )
    for p in (plan, plan_up):
        assert "BroadcastNestedLoop" not in p and "CartesianProduct" not in p, p
    # the fraction arrives via an equi-join on the group column
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    # literal-chain plans carry one CASE WHEN per group; the join plan's
    # CASE WHEN count must be INDEPENDENT of group cardinality (a fixed
    # handful from the repeat-cap guard / explode gate, however Catalyst
    # chooses to duplicate them) — pin that by comparing a 5-group and a
    # ~200-group input
    many = docs.withColumn(
        "grp", F.concat_ws("_", "source", (F.col("doc_id") % 200).cast("string"))
    )
    few = docs.withColumn("grp", F.col("source"))
    for up in (False, True):
        p_many = explain_str(
            temperature_mix_unbounded(many, "doc_id", "grp", 0.5, allow_upsample=up)
        )
        p_few = explain_str(
            temperature_mix_unbounded(few, "doc_id", "grp", 0.5, allow_upsample=up)
        )
        assert p_many.count("CASE WHEN") == p_few.count("CASE WHEN")


def test_gopher_repetition_bounded_exchanges(spark):
    """gopher_repetition_table: the line/paragraph/dup-n-gram fractions are
    per-row expressions; only the top-n-gram coverage aggregates.  Pin the
    whole table at <= 3 exchanges (ngram count shuffle, per-doc window,
    rejoin — all keyed by the doc id) and no nested loop."""
    from entitymatchingmodel_spark.functions.text import gopher_repetition_table
    from entitymatchingmodel_spark.plans import explain_str

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = gopher_repetition_table(docs, "doc_id", "text")
    plan = explain_str(out)
    assert exchange_count(out) <= 3, plan
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_blocklist_literal_is_map_only(spark):
    """The literal-list badwords screen must stay a single map-only
    projection (codegen isin probe) — zero exchanges, zero joins."""
    from entitymatchingmodel_spark.functions.text import blocked_terms_table

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = blocked_terms_table(docs, "doc_id", "text", ["spark", "slow"])
    assert exchange_count(out) == 0


def test_dsir_scoring_single_shuffle_all_broadcast(spark):
    """DSIR transform = gram explode -> broadcast bucket join -> ONE
    per-doc rollup.  The fit's bucket table is localCheckpoint-ed, so the
    scoring plan must show exactly one exchange, broadcast joins only,
    and no sort-merge join / cartesian anywhere (an SMJ here means the
    fit's corpus-wide aggregates leaked back into the scoring plan)."""
    from entitymatchingmodel_spark.functions.selection import (
        dsir_bucket_logratios,
        dsir_scores,
    )
    from entitymatchingmodel_spark.plans import explain_str

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ratios = dsir_bucket_logratios(
        docs.where("lang = 'en'"), docs, "doc_id", "text", n_buckets=256
    )
    out = dsir_scores(docs, ratios, "doc_id", "text", n_buckets=256)
    assert exchange_count(out) == 1, "scoring must shuffle once (per-doc rollup)"
    plan = explain_str(out)
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan
    assert broadcast_join_count(out) >= 1


def test_pq_bounded_shuffles_broadcast_joins(spark):
    """PQ encode = assign agg + id rollup (2 exchanges, codebook join
    broadcast); ADC top-k adds the (qid, id) rollup + the top-k window —
    never a sort-merge join or cartesian (the distance table must stay
    the broadcast side)."""
    from pyspark.sql import functions as F

    from entitymatchingmodel_spark.operators.pq import (
        pq_codebooks_from_ids,
        pq_encode,
        pq_topk,
    )
    from entitymatchingmodel_spark.plans import explain_str

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cb = pq_codebooks_from_ids(emb, "vec_id", "embedding", m=4, k=16)
    codes = pq_encode(emb, cb, "vec_id", "embedding", m=4)
    assert exchange_count(codes) <= 2
    assert broadcast_join_count(codes) >= 1
    q = emb.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    out = pq_topk(codes, cb, q, "vec_id", "qid", "embedding", k=5)
    assert exchange_count(out) <= 3
    plan = explain_str(out)
    assert "SortMergeJoin" not in plan and "Cartesian" not in plan


def test_ivf_pq_bounded_shuffles_no_smj(spark):
    """IVF-PQ: the only nested loops are the documented bounded-centroid
    class (corpus x nlist-row broadcast assigns — linear scans, not pair
    joins); everything else is broadcast hash joins + bounded rollups.
    A SortMergeJoin or CartesianProduct here means a corpus-sized side
    left the broadcast path."""
    from pyspark.sql import functions as F

    from entitymatchingmodel_spark.operators.pq import (
        ivf_pq_topk,
        pq_codebooks_from_ids,
    )
    from entitymatchingmodel_spark.plans import explain_str

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cb = pq_codebooks_from_ids(emb, "vec_id", "embedding", 4, 16,
                               normalize=True)
    out = ivf_pq_topk(emb.filter("vec_id < 5"), emb, "vec_id", "embedding",
                      k=5, nlist=16, nprobe=4, m=4, pq_k=16,
                      codebooks=cb, score_decimals=6)
    plan = explain_str(out)
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 4  # bounded-centroid class
    assert exchange_count(out) <= 4
    assert broadcast_join_count(out) >= 3
