"""Account/entity aggregation — pure-DataFrame rewrite.

Reference wraps pandas functions in ``groupBy(account).applyInPandas``
(emm/aggregation/spark_entity_aggregation.py:158-180, base_entity_aggregation
.py:32-86).  Both methods decompose into groupBy aggregations + a window
argmax, so here they are expressed natively — two shuffles total (account+
entity agg, then account argmax window over the already-grouped rows), zero
Python boundaries, AQE-friendly.

Methods (ref base_entity_aggregation.py):
- ``mean_score``   : per (account, gt_entity_id) mean of the score over the
                     account's names; winner = entity with max mean.
- ``max_frequency_nm_score`` : frequency-weighted: freq_score = freq * score;
                     per (account, gt_entity_id): sum(freq_score)/sum(freq);
                     winner by summed freq_score.
Blacklist + empty names are filtered first (ref spark_entity_aggregation.py:
188-195); null-candidate rows dropped (ref :172-173).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from entitymatchingmodel_spark import schema as S

AGG_METHODS = ("mean_score", "max_frequency_nm_score")


def aggregate_accounts(
    cands: DataFrame,
    method: str = "max_frequency_nm_score",
    score_col: str = "nm_score",
    account_col: str = S.ACCOUNT,
    freq_col: str = S.FREQ,
    name_col: str = S.PREPROCESSED,
    blacklist: list[str] | None = None,
    score_decimals: int | None = 6,
    extra_group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One row per account: (account, gt_entity_id, agg_score, rep_name).

    Deterministic tie-breaks: entity argmax by (agg score desc, gt_entity_id
    desc); representative name = highest contribution, ties broken by name
    DESC (``F.max(struct(score, name))`` takes the lexicographically
    greatest name among equal scores).

    Blacklist semantics mirror the reference (base_entity_aggregation.py:
    166-167 + spark_entity_aggregation.py:188-193): entries are normalized
    once — abbreviations merged, lowercased — then compared EXACTLY against
    the (already-lowercase) preprocessed name column; the column itself is
    not re-lowercased.  Empty names are always excluded.

    ``extra_group_cols`` adds grouping keys beside the account — the
    reference groups by ``positive_set`` as well during training evaluation
    so positive and negative name-sets aggregate separately
    (ref spark_entity_aggregation.py:158-180).
    """
    if method not in AGG_METHODS:
        raise ValueError(f"method must be one of {AGG_METHODS}")
    from entitymatchingmodel_spark.functions.preprocessing import _merge_abbr_str

    df = cands.filter(F.col("gt_uid").isNotNull() & F.col(score_col).isNotNull())
    bl = [_merge_abbr_str(b or "").lower() for b in (blacklist or [])] + [""]
    df = df.filter(~F.col(name_col).isin(bl))

    gcols = [account_col, *extra_group_cols]
    if method == "mean_score":
        contrib = F.col(score_col)
        per_entity = df.groupBy(*gcols, "gt_entity_id").agg(
            F.avg(contrib).alias("_agg_score"),
            F.max(F.struct(F.col(score_col).alias("s"), F.col(name_col).alias("n"))).alias("_rep"),
        )
    else:
        # a missing column or a null frequency counts as 1; a 0 frequency
        # contributes nothing but keeps the row (ref edge case: freq may be
        # null or 0, test_spark_vs_pandas.py:70-78)
        freq = (
            F.coalesce(F.col(freq_col), F.lit(1)) if freq_col in df.columns else F.lit(1)
        ).cast("double")
        fs = freq * F.col(score_col)
        per_entity = df.groupBy(*gcols, "gt_entity_id").agg(
            (F.sum(fs) / F.sum(freq)).alias("_agg_score"),
            F.max(F.struct(fs.alias("s"), F.col(name_col).alias("n"))).alias("_rep"),
        )
    score = F.col("_agg_score")
    if score_decimals is not None:
        score = F.round(score, score_decimals)
    per_entity = per_entity.withColumn("_agg_score", score)
    w = Window.partitionBy(*gcols).orderBy(
        F.desc("_agg_score"), F.desc("gt_entity_id")
    )
    return (
        per_entity.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col(account_col).alias("account"),
            *extra_group_cols,
            "gt_entity_id",
            F.col("_agg_score").alias("agg_score"),
            F.col("_rep.n").alias("rep_name"),
        )
    )
