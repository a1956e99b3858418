"""Cache-lifetime helper for operators that persist() a self-join input.

DataFrame.persist() registers the plan in Spark's CacheManager, which
holds it until an explicit unpersist — in a long-lived session the pins
accumulate across queries and degrade later ones (bench.py measured a 3x
slowdown before it adopted clearCache()).  Operators whose OUTPUT is
small relative to the pinned input (candidate pairs, top-k lists)
instead materialize the result and release the pin before returning, so
library callers get a leak-free DataFrame with no cache contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize_and_release(out: DataFrame, *pinned: DataFrame) -> DataFrame:
    """Run `out` to completion (eager localCheckpoint) and unpersist the
    `pinned` inputs.  The checkpointed result lives in executor-local
    storage and is dropped by the ContextCleaner once the returned
    DataFrame is garbage-collected — unlike CacheManager entries, which
    survive until explicit unpersist.  Only use when `out` is small
    relative to `pinned`: the full result is materialized.  The pins
    are released even when the materialization throws, so a failed job
    leaves no CacheManager entry behind."""
    try:
        return out.localCheckpoint(eager=True)
    finally:
        for p in pinned:
            p.unpersist()
