"""Dump formatted physical plans for the headline queries and grep the
scale-critical properties: parquet filter pushdown (PushedFilters), column
pruning (ReadSchema), broadcast joins for small dims, whole-stage codegen
spans, shuffles, reused exchanges, Python kernel passes and all-pairs
(nested-loop or cartesian) joins.
Usage: PYTHONPATH=<checkout> python scripts/explain_plans.py [name...]
"""

from __future__ import annotations

import io
import os
import re
import sys
from collections import Counter
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def main():
    from pyspark.sql import SparkSession
    import __spark_entry__ as entry_mod

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "8")
             # AQE wraps everything in AdaptiveSparkPlan and hides the
             # codegen stages until execution — off for plan inspection
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    names = sys.argv[1:] or ["admission_round1", "politeness",
                             "seen_antijoin", "host_agg", "dedup_exact",
                             "cosine_topk"]
    qs = entry_mod.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        final = str(df._jdf.queryExecution().executedPlan())
        print(f"{'='*70}\n{name}\n{'='*70}")
        print(plan)
        # executedPlan marks codegen stages as "*(N) Operator"
        wsc = len(set(re.findall(r"\*\((\d+)\)", final)))
        # one "(N) Name" details header per node: a shuffle is a plain
        # "Exchange"; a "ReusedExchange" re-reads one and is no shuffle
        nodes = Counter(re.findall(r"^\(\d+\) (\w+)", plan, re.M))
        # an all-pairs join: what the exact top-k must never fall back to
        nested = nodes["BroadcastNestedLoopJoin"] + nodes["CartesianProduct"]
        print(f"--- summary: WholeStageCodegen spans={wsc}, "
              f"broadcasts={nodes['BroadcastExchange']}, "
              f"shuffles={nodes['Exchange']}, "
              f"reused={nodes['ReusedExchange']}, "
              f"mapinarrow={nodes['MapInArrow']}, "
              f"nestedloop={nested}, "
              f"pushed={'PushedFilters: [' in plan}")
    spark.stop()


if __name__ == "__main__":
    main()
