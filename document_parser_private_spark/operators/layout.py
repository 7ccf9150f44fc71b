"""Layout pass: recover reading order from geometric span offsets
(north_star: "line clustering by y-offset, column detection,
reading-order sort"; the reference itself only relies on implicit block
order, reference parsing_engine/layout_analyzer.py:17-31).

Offsets are packed (y, x) geometry (offset = y*X_STRIDE + x):
`semantics.layout_reading_order` clusters jittered baselines into lines,
detects a column gutter from the x distribution and sorts column-major.
The extraction pipeline runs that inference inside its one fused pass
(operators/resume.extract_all_fused_op); this module keeps `SPAN_TYPE`
and the standalone `layout_order_op`, whose one user is the
`layout_order` query in `__spark_entry__.py` (SURVEY §2.10 U7).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .. import semantics as S

SPAN_TYPE = T.ArrayType(T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("media_ref", T.StringType()),
    T.StructField("offset", T.IntegerType()),
]))


def order_spans_py(spans) -> list[dict]:
    """Layout-infer reading order and renumber offsets 0..n-1.
    Shared semantics with the oracle (semantics.layout_reading_order)."""
    if spans is None:
        return []
    as_dicts = [
        {"kind": s["kind"], "text": s["text"],
         "media_ref": s["media_ref"], "offset": s["offset"]}
        for s in spans
    ]
    ordered = S.layout_reading_order(as_dicts)
    return [dict(s, offset=i) for i, s in enumerate(ordered)]


@pandas_udf(SPAN_TYPE)
def _layout_order_udf(spans: pd.Series) -> pd.Series:
    return spans.apply(order_spans_py)


def layout_order_op(df: DataFrame, spans_col: str = "clean_spans") -> DataFrame:
    """Vectorized layout pass over span arrays: cluster lines by y
    proximity, detect a column gutter from the x distribution, emit spans
    in column-major reading order with offsets renumbered. Its one user
    is the `layout_order` query, which oracles the layout
    inference alone."""
    return df.withColumn(spans_col, _layout_order_udf(F.col(spans_col)))
