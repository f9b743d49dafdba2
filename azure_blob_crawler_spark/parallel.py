"""Driver- and input-side parallelism: ``run_all`` runs independent Spark
jobs concurrently from one driver; ``fan_out`` widens under-partitioned
input for compute-heavy operators.

``run_all`` relies on Spark's scheduling within an application: jobs
submitted from separate driver threads run at the same time and share the
executors' task slots, so a short job no longer waits for an unrelated long
one, and a job of few tasks leaves its idle slots to the others.

A single parquet file written as one row group scans as ONE task no matter
how many cores the cluster has (row groups are the unit of split
assignment), so per-row-expensive operators — minhash signatures, corpus
tokenization, LSH banding — serialize on one core while the rest idle
(guide §2.5 "input skew: one huge unsplittable file… repartition
immediately after the read").

``fan_out`` raises the partition count to a multiple of the cluster's
default parallelism ONLY when the input has fewer partitions than that —
at production scale the scan already carries more partitions than cores and
the call is a no-op, so this is not a local-mode constant: the target
derives from ``sparkContext.defaultParallelism`` wherever the session runs.

``fan_out`` is for scan input only, and enforces that: when the input plan
already holds an exchange (a join, aggregation, sort or repartition) or a
cached relation, the caller owns its partitioning and the input comes back
unchanged. The check reads the physical plan and runs no job; it precedes
``df.rdd``, which under adaptive execution would materialize the input's
shuffle stages just to count partitions.

Only apply it upstream of partition-order-insensitive computation (hashing,
tokenization, per-row scoring). Do NOT apply it upstream of float
aggregations whose oracle comparison depends on a stable summation order.
"""

from __future__ import annotations

import logging
import threading
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

_log = logging.getLogger(__name__)


def run_all(
    spark: SparkSession, branches: dict[str, Callable[[], object]], wall_s: dict[str, float]
) -> dict[str, object]:
    """Run every branch on its own driver thread and wait for all of them.

    Returns each branch's result by name and writes its wall seconds into
    ``wall_s`` (a branch that starts branches of its own includes their
    time). Each thread inherits the caller's Spark local properties (job
    group, scheduler pool) as they are at this call.

    When branches fail, every branch still runs to its end; each failure is
    logged with the branch's name, then the first one raised is re-raised
    here, so the caller never proceeds past a half-finished set."""
    results: dict[str, object] = {}
    errors: list[BaseException] = []

    def run(name: str, fn: Callable[[], object]) -> None:
        t0 = time.perf_counter()
        try:
            results[name] = fn()
        except BaseException as e:  # re-raised by the joining thread below
            _log.warning("branch %r failed", name, exc_info=True)
            errors.append(e)
        finally:
            wall_s[name] = round(time.perf_counter() - t0, 3)

    # one wrap per thread: each gets its own copy of the local properties,
    # so a branch that sets its job group does not set it for its siblings
    threads = [
        threading.Thread(
            target=inheritable_thread_target(spark)(run), args=(name, fn), name=f"branch-{name}"
        )
        for name, fn in branches.items()
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return results


# widening target per core: two round-robin partitions per task slot
FAN_OUT_PER_CORE = 2


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition to ``FAN_OUT_PER_CORE × defaultParallelism``
    when a scan input is under-partitioned; identity otherwise.

    The cost when it fires is one exchange of the (narrow — callers project
    first) input; the win is every downstream per-row computation running
    wide. An input whose plan already holds an exchange or a cached
    relation is returned unchanged without running a job (see the module
    docstring)."""
    if _shuffled_or_cached(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism * FAN_OUT_PER_CORE
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _shuffled_or_cached(df: DataFrame) -> bool:
    """Whether the physical plan contains an exchange or an in-memory table
    scan. Walks the plan only: building the adaptive plan runs no job."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if "Exchange" in name or name == "InMemoryTableScan":
            return True
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False
