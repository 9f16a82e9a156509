"""Preprocessor: name -> preprocessed column via a named pipeline.

Reference: emm/preprocessing/spark_preprocessor.py:103-115 (chained withColumn).
Here the whole pipeline is one nested Column expression.  Every step but one
is a native expression; the pandas UDF inside ``strip_accents_unicode`` (the
NFKD fallback) is planned as an ``ArrowEvalPython`` node, so the pipeline runs
as a native projection, one Arrow round trip to a Python worker, and a second
native projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from entitymatchingmodel_spark import schema as S
from entitymatchingmodel_spark.functions.preprocessing import apply_pipeline


class Preprocessor:
    """Stateless transformer (no fit)."""

    def __init__(
        self,
        pipeline: str | list = "preprocess_merge_abbr",
        input_col: str = S.NAME,
        output_col: str = S.PREPROCESSED,
    ):
        self.pipeline = pipeline
        self.input_col = input_col
        self.output_col = output_col

    def transform(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            self.output_col, apply_pipeline(df[self.input_col], self.pipeline)
        )
