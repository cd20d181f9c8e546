"""Fixed StructType schemas for every table the engine reads or writes.

The reference's record types are dynamic (TextBlock.__init__ swallows
**kwargs, reference utils/textblock.py:44); the engine makes every schema
explicit — the tolerant-kwargs behavior maps to from_json with a declared
schema (see sources/readers.py).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Input table — authoritative shape from BASELINE.json input_hint.
DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), True),  # golden main content
        T.StructField("lang", T.StringType(), True),
    ]
)

# DOM node stream — the seg-map analog (SURVEY.md §1.3). One row per text
# node; char offsets index the all-nodes normalized text stream.
NODES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("node_id", T.IntegerType(), False),
        T.StructField("tag", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("block_key", T.IntegerType(), False),
        T.StructField("is_link", T.BooleanType(), False),
        T.StructField("is_boiler", T.BooleanType(), False),
        T.StructField("char_start", T.IntegerType(), False),
        T.StructField("char_end", T.IntegerType(), False),
        T.StructField("text", T.StringType(), False),
    ]
)

SPAN_SCHEMA = T.StructType(
    [
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("char_start", T.IntegerType(), False),
        T.StructField("char_end", T.IntegerType(), False),
    ]
)

# Final output (FIXTURES.md §3).
EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_SCHEMA), False),
    ]
)
