"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline on sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 with its DuckDB-checkable oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ocrd_odem_spark.plans import pipeline  # noqa: E402
from ocrd_odem_spark.plans import queries as _q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extract + de-hyphenation over the derived interleaved
    span corpus at sf0.001 (narrow, shuffle-free fact-table plan).

    Runs ``pipeline.extract``'s default Arrow tier (columnar kernels in one
    ``mapInArrow`` stage); the hof tier remains for the N-vs-4N scaling
    probe."""
    docs = _q.docs_nested_df(spark, "/root/testdata/sf0.001")
    out = pipeline.extract(docs, dehyphenate=True)
    return pipeline.to_flat(out.select("doc_id", "spans"))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _q.registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_fn, sql) in _q.registry().items() if sql is not None
    }
