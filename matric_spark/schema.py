"""Transcript schema and the referential-check domains.

The transcript table is a declared schema, fixed by BASELINE.json
``input_hint``. The reference's prefix-convention schema split
(R/utils.R:32-39,68-73) lives in ``operators/population.py``.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: Target table per BASELINE.json input_hint.
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

TRANSCRIPT_KEY = ["conv_id", "turn_idx"]

#: Domain tables for referential-integrity checks (broadcast sides), the
#: analog of matric's predicate-by-example reference tables
#: (tests/testthat/test-sim_collate.R:4-22).
DEFAULT_ROLE_DOMAIN = ["system", "user", "assistant", "tool"]
DEFAULT_TOOL_DOMAIN = ["bash", "search", "browser", "python", "none"]
