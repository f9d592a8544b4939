"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship hybrid vector+BM25 search on sf0.001;
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 (plus the training-data-pipeline extensions) as paired
Spark-callable / DuckDB-oracle entries. Implementations live in
``mcp_local_rag_spark/``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mcp_local_rag_spark import queries as _q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The steady-state INDEXED hybrid pipeline: persisted chunks table +
    persisted BM25 postings index with table-property corpus statistics
    (the reference's production shape — queries hit LanceDB's maintained
    FTS index, src/vectordb/index.ts:243-324). Spark runs the vector
    top-k and one pruned postings aggregate, with no full-corpus stats
    aggregate; the driver reranks the candidates, so the frame returned
    here is a LocalRelation of the answer rows. The index-free twin
    stays available as ``queries()['hybrid_search']`` for the ad-hoc
    no-index shape."""
    from mcp_local_rag_spark.queries.rag import q_hybrid_search_indexed

    return q_hybrid_search_indexed(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    return _q.oracle_sql()
