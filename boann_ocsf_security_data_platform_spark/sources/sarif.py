"""SARIF 2.1.0 file source (S1 — reference:
scripts/converters/sarif_to_ocsf.py:84-105 json.load per file).

Spark re-conception: one distributed multiLine-JSON read over any number of
files/globs; the fixed `SARIF_SCHEMA` keeps the scan schema-stable (no
sampling pass) and `_source_file` carries lineage for disposition and
debugging. Malformed JSON yields an all-NULL row instead of failing the job
(PERMISSIVE), matching the reference monitor's isolate-the-bad-file
behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import SARIF_SCHEMA


def read_sarif(spark: SparkSession, path: str | list[str]) -> DataFrame:
    reader = (
        spark.read.schema(SARIF_SCHEMA)
        .option("multiLine", True)
        .option("mode", "PERMISSIVE")
    )
    return reader.json(path).withColumn("_source_file", F.input_file_name())
