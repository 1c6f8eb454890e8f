"""SQL surface: register the extraction kernel as a VECTORIZED SQL
function so plain ``spark.sql`` users can call the engine without the
DataFrame pipeline::

    from inxs_spark.functions.sql import register_sql_functions
    register_sql_functions(spark)
    spark.sql("SELECT conv_id, extract_main_content(text).extracted_text
               FROM transcripts")

The UDF is an ``arrow_udf`` (Arrow-batched, no per-row Python at the
Spark API level — BASELINE.json:15): each batch of payloads goes
through the pipeline's own encoder (``plans.extract_pipeline.
encode_turns``) and comes back as one ``StructArray`` of the
``RESULT_FIELDS`` contract, so results are byte-identical to
``extract_df``. Note the pipeline remains the scale path (the
resumable runner writes lineage around it); the SQL function is the
ad-hoc/interactive surface.
"""

import pyarrow as pa

from ..extract import MAIN_CONTENT, turn_extractor
from ..kernel.transformation import Transformation
from ..plans.extract_pipeline import RESULT_DDL, RESULT_NAMES, encode_turns


def extract_udf(transformation: Transformation = MAIN_CONTENT):
    """Arrow-batched scalar UDF: payload → struct(extracted_text,
    spans, failure)."""
    from pyspark.sql.functions import arrow_udf

    row_fn = turn_extractor(transformation)

    # real annotations (no ``from __future__ import annotations`` in
    # this module): arrow_udf reads the SCALAR type from the hints
    def extract_main_content(payload: pa.Array) -> pa.Array:
        return pa.StructArray.from_arrays(
            encode_turns(payload.to_pylist(), row_fn), names=RESULT_NAMES
        )

    return arrow_udf(extract_main_content, RESULT_DDL)


def register_sql_functions(spark, transformation: Transformation = MAIN_CONTENT):
    """Register the engine's SQL functions on a session. Returns the
    list of registered names."""
    spark.udf.register("extract_main_content", extract_udf(transformation))
    return ["extract_main_content"]
