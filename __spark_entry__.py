"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship profile query at sf0.001 (smoke).
``queries()`` — one named entry per implemented operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent ANSI SQL for each SQL-expressible
query; names and output column aliases match exactly.

Convention for oracle parity: every floating-point aggregate is rounded
in-query (ROUND_DIGITS=4 for means/stds/percentiles, 2 for money sums)
on BOTH sides so raw doubles are identical; counts are BIGINT on both
sides (DuckDB integer SUM/COUNT results are cast explicitly).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# self-contained import: works however the driver loads this file
# (module import, importlib-by-path, different cwd)
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import DataFrame, SparkSession

from sparkobs.io import load_table
from sparkobs import queries as Q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one-pass numeric profile of lineitem at sf0.001."""
    from sparkobs.operators.profile import table_profile

    df = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    return table_profile(df, "lineitem")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry entry, in definition order."""
    return dict(Q.SPARK_QUERIES)


def oracle_sql(sf_dir: str = "/root/testdata/sf0.01") -> dict[str, str]:
    """Oracle SQL per query. A few oracles (the FS-listing family and
    the staged-layout queries) reference the data/staged directories
    through placeholders ({SF_DIR}, {ZM16_DIR} — resolved by
    sparkobs.io.oracle_substitute); the driver runs correctness at
    sf0.01, so the no-arg call (the driver contract) substitutes that
    path. tools/check_oracle.py passes its actual sf dir."""
    from sparkobs.io import oracle_substitute

    return {n: oracle_substitute(sql, sf_dir) for n, sql in Q.ORACLE_SQL.items()}
