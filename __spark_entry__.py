"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship distributed crawl (frontier engine over a pages
table derived from sf0.001 documents) and returns the extracted-text results.
``queries``/``oracle_sql`` expose every implemented operator (SURVEY.md §2 /
§2f + the training-data pipeline ops) with DuckDB-SQL oracles.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from boris_spark.ops import queries as Q  # noqa: E402
from boris_spark.ops import crawl2 as _crawl2  # noqa: E402,F401 — registers gates
from boris_spark.ops import kernel_gates as _kg  # noqa: E402,F401 — registers gates
from boris_spark.ops import warc_gate as _wg  # noqa: E402,F401 — registers gates
from boris_spark.ops import sitemap_gate as _sg  # noqa: E402,F401 — registers gates


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: distributed URL-frontier crawl (seen-filter, politeness,
    path_key ordering) over pages derived from sf0.001 documents; returns
    (url, text) extractions."""
    return Q.crawl_extract_text(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(Q.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(Q.ORACLE_SQL)
