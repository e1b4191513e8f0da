"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: full parse→route→aggregate main-ops rollup at sf0.001
queries()      — one entry per implemented operator (SURVEY.md §2)
oracle_sql()   — equivalent DuckDB SQL per query

The log-pipeline queries run over the deterministic synthetic `pages` table
(BASELINE.json input_hint), generated once per scale factor and cached under
data/pages/ so the Spark query and the DuckDB oracle read identical parquet
bytes. Importing this module ensures the sf=0.01 table exists for the
driver's oracle run.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mongo_log_parser_spark.contracts import data_oracle, log_oracle
from mongo_log_parser_spark.contracts.data_queries import DATA_QUERIES
from mongo_log_parser_spark.contracts.log_queries import LOG_QUERIES
from mongo_log_parser_spark.operators import route
from mongo_log_parser_spark.plans import pipeline
from mongo_log_parser_spark.sources import datagen

# the driver runs oracle SQL against fixed paths — make sure they exist
datagen.ensure_pages(0.01)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: end-to-end parse → route → A1 main-ops aggregate,
    the main_ops sink of the production planner pipeline.plan_sinks."""
    pages = spark.read.parquet(datagen.ensure_pages(0.001))
    return pipeline.plan_sinks(route.split_streams(pages))["main_ops"]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    out.update(LOG_QUERIES)
    out.update(DATA_QUERIES)
    return out


def oracle_sql(sf: float = 0.01) -> dict[str, str]:
    datagen.ensure_pages(sf)
    out: dict[str, str] = {}
    out.update(log_oracle.oracles(sf))
    out.update(data_oracle.oracles(sf))
    return out
