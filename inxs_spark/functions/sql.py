"""SQL surface: register the extraction kernel as a VECTORIZED SQL
function so plain ``spark.sql`` users can call the engine without the
DataFrame pipeline::

    from inxs_spark.functions.sql import register_sql_functions
    register_sql_functions(spark)
    spark.sql("SELECT conv_id, extract_main_content(text).extracted_text
               FROM transcripts")

The UDF is a pandas_udf (Arrow-batched, no per-row Python at the Spark
API level — BASELINE.json:15); it is the same kernel the pipeline's
mapInArrow runs, so results are byte-identical to ``extract_df``. Note
the pipeline remains the scale path (it also writes lineage); the SQL
function is the ad-hoc/interactive surface.
"""

from __future__ import annotations

from ..extract import MAIN_CONTENT, turn_extractor
from ..kernel.transformation import Transformation

EXTRACT_RESULT_TYPE = (
    "struct<extracted_text:string,"
    "spans:array<struct<start:int,end:int,path:string>>,"
    "failure:string>"
)


def extract_udf(transformation: Transformation = MAIN_CONTENT):
    """Arrow-batched scalar UDF: payload → struct(extracted_text,
    spans, failure)."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    # no type hints: Spark 4's hint inference does not accept the
    # Series -> DataFrame (struct result) shape; the explicit
    # returnType makes it a SCALAR Arrow-batched UDF
    extract = turn_extractor(transformation)

    def _extract_main_content(payload):
        texts, spans, fails = [], [], []
        for p in payload:
            t, s, f = extract(p)
            texts.append(t)
            spans.append([
                {"start": a, "end": b, "path": path} for a, b, path in s
            ])
            fails.append(f)
        return pd.DataFrame(
            {"extracted_text": texts, "spans": spans, "failure": fails}
        )

    return pandas_udf(_extract_main_content, EXTRACT_RESULT_TYPE)


def register_sql_functions(spark, transformation: Transformation = MAIN_CONTENT):
    """Register the engine's SQL functions on a session. Returns the
    list of registered names."""
    spark.udf.register("extract_main_content", extract_udf(transformation))
    return ["extract_main_content"]
