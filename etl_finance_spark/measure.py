"""The repo's single timed-measurement idiom.

Every harness that times a declared query — bench.py, scripts/
ab_pair.py, tests/test_scale_probe*.py — must measure the same thing,
or cross-harness conclusions (a bench flag adjudicated by the paired
A/B) silently stop being about the same quantity. The protocol:

- execute the FULL plan through the ``noop`` sink: unlike ``count()``
  (which lets Catalyst prune every projected column away), the noop
  writer evaluates every output column of every row without paying
  real write-out cost (CLAUDE.md: "bench.py must keep the noop sink");
- drain managed lineage cuts OUTSIDE the timer: cleanup of the
  previous query's persists is not this query's cost.

This module is that protocol's one home (r10 review finding: the idiom
had grown three hand-written copies). A harness that needs different
bookkeeping (bench.py's NaN-on-crash) wraps these primitives rather
than re-writing the sink/drain steps.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession


def run_noop(df: DataFrame) -> None:
    """Execute a batch plan to completion through the noop sink."""
    df.write.format("noop").mode("overwrite").save()


def timed_noop_run(spark: SparkSession, fn, sf_dir: str) -> float:
    """Time one declared-query callable end-to-end under the protocol;
    returns wall seconds. ``fn`` is a registry spec callable
    ``(spark, sf_dir) -> DataFrame``."""
    from etl_finance_spark.lineage import release_cuts

    t0 = time.time()
    run_noop(fn(spark, sf_dir))
    dt = time.time() - t0
    release_cuts()  # drain outside the timer
    return dt
