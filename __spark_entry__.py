"""Driver contract for the spark-graft builder (PySpark target).

Backed by aws_lambda_redshift_loader_spark.plans.registry: every operator
from SURVEY.md §2 registers a named query builder plus (where
SQL-expressible) a DuckDB oracle. See the package modules for the
reference citations and the scale rationale per operator.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from aws_lambda_redshift_loader_spark.plans.registry import load_all, verification_order  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    specs = load_all()
    return specs["pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    verification-priority order (correctness is checked on a prefix of it)."""
    specs = load_all()
    return {name: specs[name].fn for name in verification_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted → rows-only check), in
    registration order; look it up by name."""
    return {n: s.oracle for n, s in load_all().items() if s.oracle is not None}
