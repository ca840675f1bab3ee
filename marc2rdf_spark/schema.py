"""Canonical schemas (SURVEY.md §1.1).

All stages exchange these shapes; nested arrays because MARC tags AND
subfield codes repeat (reference fixture spec/example.normarc.xml:57-61).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# BASELINE.json input_hint — authoritative input shape.
WEB_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

SUBFIELD_STRUCT = T.StructType(
    [
        T.StructField("code", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
    ]
)

CONTROLFIELD_STRUCT = T.StructType(
    [
        T.StructField("tag", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
    ]
)

DATAFIELD_STRUCT = T.StructType(
    [
        T.StructField("tag", T.StringType(), True),
        T.StructField("ind1", T.StringType(), True),
        T.StructField("ind2", T.StringType(), True),
        T.StructField("subfields", T.ArrayType(SUBFIELD_STRUCT), True),
    ]
)

RECORD_STRUCT = T.StructType(
    [
        T.StructField("leader", T.StringType(), True),
        T.StructField("controlfields", T.ArrayType(CONTROLFIELD_STRUCT), True),
        T.StructField("datafields", T.ArrayType(DATAFIELD_STRUCT), True),
    ]
)

# url-keyed record rows: the output of extract+parse, input to the compiler.
RECORDS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("record_xml", T.StringType(), True),  # byte-identical
        T.StructField("record", RECORD_STRUCT, True),
    ]
)

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), True),
        T.StructField("pred", T.StringType(), True),
        T.StructField("obj", T.StringType(), True),
        T.StructField("obj_is_uri", T.BooleanType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("dtype", T.StringType(), True),
    ]
)

TRIPLE_STRUCT_DDL = (
    "struct<subj:string,pred:string,obj:string,"
    "obj_is_uri:boolean,lang:string,dtype:string>"
)
TRIPLE_ARRAY_DDL = f"array<{TRIPLE_STRUCT_DDL}>"

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("input_rows", T.LongType(), True),
        T.StructField("output_triples", T.LongType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("updated_at", T.TimestampType(), False),
    ]
)


def local_frame(
    spark: SparkSession, rows: list[dict], schema: str | T.StructType
) -> DataFrame:
    """A small driver-side table: ``rows`` (dicts keyed by field name)
    become one JSON literal that the JVM parses and inlines.  No Python
    worker task runs and the relation is not RDD-backed, so scanning it
    again re-reads the literal, not a pickled RDD.  The literal rides
    in the plan, so this is for tables of driver size (a spec table, a
    key list), not data.  ``schema`` is a StructType or a DDL field
    list (``"subj string"``).  FAILFAST: a value that does not read as
    its field's type (text in a number or boolean field) raises instead
    of becoming null."""
    ddl = (
        schema.simpleString()
        if isinstance(schema, T.StructType)
        else f"struct<{schema}>"
    )
    parsed = F.from_json(
        F.lit(json.dumps(rows)), f"array<{ddl}>", {"mode": "FAILFAST"}
    )
    return spark.range(1, numPartitions=1).select(F.inline(parsed))
