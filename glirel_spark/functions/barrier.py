"""Optimizer-proof per-row materialization barrier.

Catalyst's CollapseProject inlines alias references: any lambda that
indexes a *derived* array column re-evaluates the producing expression
per element, turning O(n) stages into O(n^2)-per-row plans (measured:
minutes instead of seconds at sf0.1 — see BENCH/BASELINE.md notes).
``withColumn`` projection boundaries are NOT a reliable fence; the
optimizer may still merge them. A filter over an alias inlines it too:
Catalyst pushes the filter below the projection that defines the alias,
so every reference to the alias in the predicate becomes a copy of the
aliased expression.

Inlining also costs code size. Whole-stage codegen emits one Java
method per pipeline, and HotSpot never JIT-compiles a method over 8,000
bytes of bytecode (``-XX:HugeMethodLimit``, on by default through
``-XX:+DontCompileHugeMethods``). A stage over that limit runs in the
bytecode interpreter for the life of the JVM (on a 4-core box, warm
sf0.1 ``triples`` took 2.9-3.1 s that way against 1.1-1.5 s compiled);
it is not an error and shows in no log.
Janino's 64 KB class-file limit is a separate, much larger cliff: over
it the stage falls out of codegen and Spark logs "Code grows beyond
64 KB".
``max_method_bytes`` measures a plan against ``JIT_METHOD_LIMIT``;
tests/test_plan_shape.py guards the lexical and language-id plans.

``materialized(expr)`` wraps the expression in a benign nondeterministic
guard: ``when(monotonically_increasing_id() >= 0, expr)``. The id is
always non-negative, so the value is unchanged — but Catalyst must not
duplicate or inline nondeterministic expressions, so the column is
computed exactly once per row and every downstream reference is a plain
attribute read. Cost: one long comparison per row.

Use it for every expensive array column that downstream lambdas index
into (`arr[i]`) or re-reference per element, and for an expensive
column that several predicates or output columns read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# HotSpot's HugeMethodLimit: the largest method, in bytecode bytes, that
# the JIT compiles
JIT_METHOD_LIMIT = 8000


def materialized(expr: Column) -> Column:
    return F.when(F.monotonically_increasing_id() >= 0, expr)


def max_method_bytes(df: DataFrame) -> int:
    """Largest generated method of ``df``'s whole-stage-codegen stages,
    in bytecode bytes (0 if it has none). This compiles the stages but
    runs nothing. An unexecuted adaptive plan shows no codegen stages,
    so the plan is re-planned with AQE off for the measurement."""
    spark = df.sparkSession
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # a new Dataset plans anew, under the conf in force now
        seq = df.select("*")._jdf.queryExecution().debug().codegenToSeq()
        return max(
            (seq.apply(i)._3().maxMethodCodeSize() for i in range(seq.size())), default=0
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
