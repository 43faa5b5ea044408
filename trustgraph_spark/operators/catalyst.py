"""Catalyst-behavior helpers shared by operators.

:func:`empty_frame` builds an empty DataFrame without a Python RDD.
:func:`nd_guard` is the filter-pushdown pin for expensive post-join
expressions.  Catalyst duplicates expression trees
per reference (no plan-level sharing — see CLAUDE.md), and predicate
pushdown SUBSTITUTES a filtered alias with its defining expression.
For a similarity verify of the shape

    join(...).select(expensive(a, b).alias("x")).where(f(x) >= t)

the filter is folded into the JOIN CONDITION with ``expensive``
inlined — evaluated once per probed row in the condition (twice when
``f`` references x twice) AND again in the projection above: measured
3 ``array_intersect`` evaluations per candidate pair in the PPJoin
verify (plan-confirmed on Spark 4.1), ~2x the stage.  An unused
nondeterministic barrier column does NOT fix it: column pruning
removes the unused column first and the projection becomes pushable
again.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def empty_frame(spark: SparkSession, ddl: str) -> DataFrame:
    """An empty DataFrame of the DDL schema ``ddl`` as a JVM-side
    LocalRelation.  ``spark.createDataFrame`` of an empty list instead
    runs a Python RDD whose workers carry a different
    ``SPARK_SIMPLIFIED_TRACEBACK`` env from the Arrow UDF workers, so the
    first such frame in a session starts a second Python daemon and its
    own workers (~1.3 s cold on a 4-CPU host) to produce zero rows."""
    jspark = spark._jsparkSession
    schema = jspark.parseDataType(T._parse_datatype_string(ddl).json())
    return DataFrame(jspark.createDataFrame(spark._jvm.java.util.ArrayList(), schema), spark)


def nd_guard(col: Column) -> Column:
    """Pin an expensive computed column against filter-pushdown alias
    inlining by wrapping it in a value-preserving NONDETERMINISTIC
    branch: ``monotonically_increasing_id() >= 0`` is always true, so
    the value is bit-for-bit ``col``, but the expression is
    nondeterministic and Catalyst may not push, duplicate, or
    constant-fold through it (optimization guide §4.4 — the same
    mechanism as ``udf.asNondeterministic``, without a UDF).  Apply to
    the expensive column itself, never blanket: nondeterminism also
    blocks legitimate reorderings of OTHER filters past the
    projection."""
    return F.when(F.monotonically_increasing_id() >= 0, col)
