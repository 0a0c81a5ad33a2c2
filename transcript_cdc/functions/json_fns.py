"""JSON encode/decode (SURVEY.md §2.2 P11).

Reference: json.loads/dumps of metadata and notification payloads
(ETL/lambda/trigger_01_glue.py:25-26, ETL/glue/arxiv_feed.py:93,
ETL/lambda/glue_monitor.py:20-22). Spark: from_json/to_json with explicit
schema — JVM-side, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_PROPS_SCHEMA = T.StructType([T.StructField("k", T.IntegerType())])


def parse_props(col: Column | str, schema: T.StructType = EVENT_PROPS_SCHEMA) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.from_json(c, schema)
