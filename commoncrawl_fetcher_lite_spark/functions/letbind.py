"""let-binding for Catalyst expressions.

Catalyst collapses adjacent projections, INLINING a withColumn'd expression
into every downstream reference — an expensive array expression referenced
k times is then evaluated k times per row (codegen subexpression
elimination does not cover higher-order array functions). `let` binds the
value once per row using the HOF evaluation contract:

    transform(array(e), x -> body)   # e is evaluated ONCE to build the array

so `let(e, lambda x: body)` == body[x := e] with e computed once. Nesting
works because lambda variables are bound values, not expressions.

Measured effect (sf0.1 bench, 32 cores): minhash signature 64 refs → one
eval cut the minhash_lsh query ~4x; fingerprints ~5x.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(expr: Column, body: Callable[[Column], Column]) -> Column:
    """Evaluate `expr` once per row and feed the bound value to `body`."""
    return F.element_at(F.transform(F.array(expr), body), 1)


def spread_for_compute(df, min_partitions: int | None = None):
    """Round-robin repartition before CPU-heavy per-row work.

    Small-file inputs arrive as 1-2 scan partitions; a signature/hashing
    stage then runs on 1-2 cores no matter the cluster size. One cheap
    shuffle (rows pass through once) buys full-width parallelism for the
    expensive stage.

    NEVER narrows: an input that already has >= target partitions is
    returned unchanged — a 100 TB scan arrives with far more partitions
    than defaultParallelism, and collapsing it here would both throttle
    the most CPU-expensive stages (shingling, simhash, signature matmuls)
    to ~#cores AND round-robin-shuffle the full text/vector payload to do
    it. The guard lives in the helper itself so every call site gets it.

    The width probe starts no Spark job. `df.rdd` on a plan with an
    exchange makes AQE run every query stage below it, and the caller's
    query then runs them again, so such plans are sized from their
    planned, unexecuted physical plan (_planned_width). Only exchange-free
    plans, for which `.rdd` executes nothing, and plans whose width the
    plan does not tell, go through `.rdd`. AQE may still coalesce a
    planned shuffle at run time, but with parallelismFirst (the default)
    it keeps defaultParallelism partitions unless they would hold under
    minPartitionSize (1 MB) each; on inputs that small a narrower stage
    costs less than executing the input twice."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan()
    existing = 0
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        existing = _planned_width(plan.executedPlan())
    if not existing:
        existing = df.rdd.getNumPartitions()
    if existing >= target:
        return df
    return df.repartition(target)


def _planned_width(plan) -> int:
    """Partitions of an unexecuted physical plan (a JVM SparkPlan): its
    output partitioning's count when known, a scan's input RDD width
    (listed at planning, no job), the sum over a union's inputs or the
    width of a broadcast join's streamed side; 0 when the plan does not
    tell (an input of a union counts 0 then)."""
    from py4j.protocol import Py4JError

    n = plan.outputPartitioning().numPartitions()
    if n:
        return n
    kids = [plan.children().apply(i) for i in range(plan.children().size())]
    if not kids:
        try:
            return plan.inputRDDs().head().getNumPartitions()
        except Py4JError:  # not a codegen scan
            return 0
    widths = [
        _planned_width(k)
        for k in kids
        if k.outputPartitioning().getClass().getSimpleName()
        != "BroadcastPartitioning"
    ]
    if plan.nodeName() == "Union":
        return sum(widths)
    return widths[0] if len(widths) == 1 else 0
