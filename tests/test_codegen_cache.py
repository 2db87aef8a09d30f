"""Generated code is reused across passes that run the same plans again.

Spark compiles each whole-stage and expression class with Janino and keeps
the compiled classes in a per-JVM LRU cache whose size is the static conf
``spark.sql.codegen.cache.maxEntries`` (Spark's default is 100).  One pass
of the ``window_frames`` workload needs about 200 classes, so a cache of
the default size evicts every class before the next pass asks for it and
each pass compiles everything again.  The recommended session sizes the
cache so that a steady-state pass compiles nothing.
"""

from __future__ import annotations

import __spark_entry__ as entrymod
from perfbench.workloads import WORKLOADS

ENTRIES = list(WORKLOADS["window_frames"].entries)


def test_steady_state_window_pass_compiles_nothing(spark, sf_dir):
    queries = entrymod.queries()
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def one_pass() -> dict[str, int]:
        per_entry = {}
        for name in ENTRIES:
            before = compiles.getCount()
            try:
                queries[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            finally:
                spark.catalog.clearCache()
            per_entry[name] = compiles.getCount() - before
        return per_entry

    first = one_pass()
    one_pass()
    third = one_pass()
    assert sum(third.values()) == 0, (
        f"compiles per entry, first pass {first}, third pass {third}"
    )
