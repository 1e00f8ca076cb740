"""Vectorized pandas-UDF factories.

NOTE: this module intentionally does NOT use ``from __future__ import
annotations`` — PySpark's pandas-UDF type-hint inference needs real
(non-stringified) annotations to infer the eval type.
"""

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from .analyzer import analyze_batch


def make_analyze_udf(language: str = "english"):
    """text column → array<string> of analyzed index terms."""

    @pandas_udf(ArrayType(StringType()))
    def analyze_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(analyze_batch(texts.tolist(), language),
                         index=texts.index)

    return analyze_udf
