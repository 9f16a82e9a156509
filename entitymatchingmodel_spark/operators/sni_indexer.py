"""Sorted-Neighbourhood Indexer (SNI).

Reference: emm/indexing/spark_sni.py:230-265 — union GT+names sort keys, global
rank via ``rdd.zipWithIndex`` (an extra job coordinated by the driver), then
one equi-join per window offset.

Spark-first redesign: the global rank is computed with **range partitioning +
within-partition row_number + broadcast partition offsets** — no
single-partition window and no RDD hop.  ``repartitionByRange`` gives a total
order across partitions; per-partition row counts (a tiny agg) give each
partition its starting offset.  The range bounds are sampled, and every
evaluation of the exchange samples anew (the sampler's seed is tied to the
evaluation's RDD), so two evaluations may split the keys differently; the
ranks are exact only because the row numbers and the counts are read from ONE
persisted evaluation.  At 100 TB the sort is the unavoidable cost;
everything else stays embarrassingly parallel.

The ±w offset joins are expressed as ONE equi-join after exploding each name
rank into its w*2+1 neighbour positions — a single shuffle instead of the
reference's 2w+1 separate joins (spark_sni.py:247-262).

Skew guard (ref spark_sni.py:116-122): at most ``topn_per_name`` GT rows are
kept per identical sort key, via a deterministic window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from entitymatchingmodel_spark import schema as S


def global_rank(
    df: DataFrame, key: str, out: str = "srank", partitions: int | None = None
) -> tuple[DataFrame, DataFrame]:
    """Dense global 0-based rank of distinct, sorted ``key`` values.

    Returns ``(ranks, local)``.  ``local`` (key, partition id, row number in
    the partition) is persisted: the row numbers and the per-partition counts
    must come from the same range partitioning, and a second evaluation of
    the exchange may sample other bounds.  The caller unpersists ``local``
    once ``ranks`` is no longer needed."""
    keys = df.select(key).distinct()
    n = partitions or keys.sparkSession.sparkContext.defaultParallelism
    ranged = keys.repartitionByRange(n, F.col(key)).withColumn(
        "_pid", F.spark_partition_id()
    )
    # row_number within each range partition (partition-local window: no
    # single-partition bottleneck), then add broadcast per-partition offsets.
    w = Window.partitionBy("_pid").orderBy(key)
    local = ranged.withColumn("_r", F.row_number().over(w)).persist()
    counts = local.groupBy("_pid").agg(F.count("*").alias("_cnt"))
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn("_off", F.coalesce(F.sum("_cnt").over(woff), F.lit(0)))
    ranks = local.join(F.broadcast(offsets.select("_pid", "_off")), "_pid").select(
        key, (F.col("_r") + F.col("_off") - 1).cast("long").alias(out)
    )
    return ranks, local


class SNIIndexerModel:
    def __init__(
        self,
        gt_keyed: DataFrame,
        window_length: int,
        input_col: str,
        mapping_func=None,
        orig_input_col: str | None = None,
    ):
        # gt_keyed: (gt_uid, <input_col>) after the per-name skew cap
        self.gt_keyed = gt_keyed
        self.w = window_length
        self.input_col = input_col
        self.mapping_func = mapping_func
        self.orig_input_col = orig_input_col or input_col
        self._last_ranks = None  # persisted range-partitioned keys of the latest transform

    def unpersist(self) -> None:
        """Release cached state (re-fit/teardown hygiene, SURVEY §4 X14)."""
        self.gt_keyed.unpersist()
        if self._last_ranks is not None:
            self._last_ranks.unpersist()
            self._last_ranks = None

    def transform(self, names: DataFrame) -> DataFrame:
        """names (uid, preprocessed) -> (uid, gt_uid, score, rank).

        rank in [-w, +w] = gt position minus name position in the sorted key
        space; score = 1 - |rank| / (w + 1)   (ref spark_sni.py:247-262).
        """
        key = self.input_col
        if self.mapping_func is not None:
            names = names.withColumn(key, self.mapping_func(F.col(self.orig_input_col)))
        union_keys = (
            names.select(key).union(self.gt_keyed.select(key))
        )
        # The previous transform's cache is released here, before the new
        # one is persisted — it would otherwise grow per call on a
        # long-lived model.  ranks feed two joins (gt side + names side);
        # both read the one persisted range partitioning.
        if self._last_ranks is not None:
            self._last_ranks.unpersist()
        ranks, self._last_ranks = global_rank(union_keys, key)
        gt_r = self.gt_keyed.join(ranks, key).select("gt_uid", F.col("srank").alias("gt_rank"))
        nm_r = names.select(S.UID, key).join(ranks, key).select(S.UID, "srank")
        # Explode each name rank into its neighbour positions -> one equi-join.
        offs = F.sequence(F.lit(-self.w), F.lit(self.w))
        nm_exp = nm_r.select(
            S.UID, "srank", F.explode(offs).alias("_off")
        ).withColumn("gt_rank", F.col("srank") + F.col("_off"))
        out = nm_exp.join(gt_r, "gt_rank").select(
            S.UID,
            "gt_uid",
            (1.0 - F.abs(F.col("_off")) / F.lit(float(self.w + 1))).alias("score"),
            F.col("_off").cast("int").alias("rank"),
        )
        return out


class SNIIndexer:
    """window_length must be odd (total window = 2w+1 positions around the name).

    ``window_length=5`` means w=2 neighbours each side, matching the
    reference's convention (spark_sni.py takes the full odd window size).

    ``mapping_func`` (ref spark_sni.py:109-114): optional Column -> Column
    transform applied to the sort key before the neighbourhood ordering —
    e.g. reversed names, soundex — expressed natively instead of the
    reference's row UDF.
    """

    def __init__(
        self,
        window_length: int = 3,
        input_col: str = S.PREPROCESSED,
        topn_per_name: int = 10,
        mapping_func=None,
    ):
        if window_length % 2 != 1 or window_length < 1:
            raise ValueError("window_length must be a positive odd integer")
        self.window_length = window_length
        self.input_col = input_col
        self.topn_per_name = topn_per_name
        self.mapping_func = mapping_func

    def fit(self, gt: DataFrame) -> SNIIndexerModel:
        # Skew guard: keep <= topn_per_name GT rows per identical key
        # (ref spark_indexing_utils.py:158-196 via spark_sni.py:116-122),
        # deterministic tie-break by gt_uid.
        key_col = self.input_col
        if self.mapping_func is not None:
            gt = gt.withColumn("_sni_key", self.mapping_func(F.col(self.input_col)))
            key_col = "_sni_key"
        w = Window.partitionBy(key_col).orderBy("gt_uid")
        gt_keyed = (
            gt.select("gt_uid", key_col)
            .withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= self.topn_per_name)
            .drop("_r")
            .persist()
        )
        return SNIIndexerModel(
            gt_keyed, self.window_length // 2, key_col,
            mapping_func=self.mapping_func, orig_input_col=self.input_col,
        )
