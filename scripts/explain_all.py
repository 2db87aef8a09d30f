"""Capture `.explain("formatted")` for every declared query into <out_dir>.

Writes one `<query>_<suffix>.txt` per entry, built with the SAME session
config as bench.py so the captured plan is the benched plan.  Expression
ids (`#123`), exchange ids, RDD ids and lambda-variable counters are
written as `#N`, `plan_id=N`, `RDD[N]` and `lambda x#N`, so two dumps
of the same plans (say, a parent checkout and a change) compare with
a plain `diff -r`.  Also prints a one-line plan-health summary per query
(Exchange count, python-eval nodes, join kinds) to stdout.

    python scripts/explain_all.py <out_dir> <suffix> [query ...]

e.g.  python scripts/explain_all.py plans_parent x
      python scripts/explain_all.py plans_change x
      diff -r plans_parent plans_change
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")

# expression ids (`l_orderkey#123L`), exchange ids (`[plan_id=26645]`),
# RDD ids (`MapPartitionsRDD[848]`) and the fresh-name suffix of a Python
# lambda's variables (`lambda x_12#5`) count up through a session, so
# dumps normalize them to `#N`, `plan_id=N`, `RDD[N]` and `lambda x#N`
_SESSION_IDS = (
    (re.compile(r"(lambda [A-Za-z]+)_\d+#"), r"\1#"),
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
)


def normalize(plan: str) -> str:
    for pat, repl in _SESSION_IDS:
        plan = pat.sub(repl, plan)
    return plan


def main() -> int:
    if len(sys.argv) < 3:
        print(
            "usage: python scripts/explain_all.py <out_dir> <suffix> [query ...]",
            file=sys.stderr,
        )
        return 2
    out_dir, suffix = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    os.makedirs(out_dir, exist_ok=True)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    # bench.py parity: the same library session, so the captured plan is
    # the benched plan by construction.
    from tidier_spark.session import session

    spark = session(
        cpus=int(cpus),
        app_name="explain-all",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "16g",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as exc:
            print(f"ERR   {name}: {exc}")
            continue
        finally:
            spark.catalog.clearCache()
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(normalize(plan))
        n_ex = len(re.findall(r"\bExchange\b", plan))
        n_py = len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas|PythonMapInArrow", plan)
        )
        n_smj = len(re.findall(r"SortMergeJoin", plan))
        n_bhj = len(re.findall(r"BroadcastHashJoin", plan))
        n_cart = len(re.findall(r"Cartesian|BroadcastNestedLoopJoin", plan))
        print(
            f"OK    {name}: exchanges={n_ex} py={n_py} smj={n_smj} "
            f"bhj={n_bhj} nlj={n_cart}"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
