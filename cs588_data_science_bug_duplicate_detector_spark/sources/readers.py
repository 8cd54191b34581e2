"""Source reader with explicit schemas (SURVEY.md S1-S2).

The reference infers schemas via pandas CSV inference
(/root/reference/preprocess_data.py:276); production paths here always pass
an explicit StructType — at 10^12 docs, schema inference is a full extra
scan and a correctness hazard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Raw bug-report table (reference columns, preprocess_data.py:35-62)
BUG_REPORTS_DDL = (
    "Issue_id long, Product string, Component string, Op_sys string, "
    "Priority string, Title string, Description string, "
    "Enhanced_Description string, Duplicate string"
)

# Split membership tables (preprocess_data.py:282-284)
SPLIT_DDL = "Issue_id long, Duplicate string"


def read_csv(spark: SparkSession, path: str, ddl: str, **options) -> DataFrame:
    opts = {"header": "true", "multiLine": "true", "escape": '"'}
    opts.update(options)
    return spark.read.schema(ddl).options(**opts).csv(path)
