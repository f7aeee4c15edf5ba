#!/usr/bin/env python
"""Full-registry plan audit: build every registry query's DataFrame,
capture the formatted physical plan, and flag optimization smells:

- BatchEvalPython  (row-at-a-time Python UDF — guide §4)
- CartesianProduct (accidental cross join — guide §3)
- BroadcastNestedLoopJoin (usually an un-keyed join)
- exchange count (non-broadcast) per query
- scans whose ReadSchema lists every column of a wide table

Usage: python scripts_dev_audit.py <out_dir>

Writes a TSV report to <out_dir>/audit.tsv; plans are not persisted (the
bench set's plans are committed separately).  SF dir via SPARK_GRAFT_SF_DIR
(default sf0.01).
"""

from __future__ import annotations

import os
import sys
import traceback


def main() -> int:
    out_dir = sys.argv[1]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    from tensorbase_spark.queries import registry
    from tensorbase_spark.session import get_spark

    spark = get_spark("tensorbase_audit")
    reg = registry()
    os.makedirs(out_dir, exist_ok=True)
    out = open(os.path.join(out_dir, "audit.tsv"), "w")
    print("query\texchanges\tbroadcasts\tbatch_eval_python\tarrow_eval\t"
          "map_in_pandas\tcartesian\tbnlj\terror", file=out)
    for name, q in reg.items():
        row = [name, "", "", "", "", "", "", "", ""]
        try:
            df = q.fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            # count tree-line occurrences only (the numbered detail section
            # repeats each operator name once more)
            tree = plan.split("\n\n")[0]
            row[1] = str(tree.count("Exchange") - tree.count("BroadcastExchange"))
            row[2] = str(tree.count("BroadcastExchange"))
            row[3] = str(tree.count("BatchEvalPython"))
            row[4] = str(tree.count("ArrowEvalPython"))
            row[5] = str(tree.count("MapInPandas") + tree.count("FlatMapGroupsInPandas"))
            row[6] = str(tree.count("CartesianProduct"))
            row[7] = str(tree.count("BroadcastNestedLoopJoin"))
        except Exception as e:
            row[8] = f"{type(e).__name__}: {e}"[:200].replace("\t", " ").replace("\n", " ")
            traceback.print_exc(file=sys.stderr)
        print("\t".join(row), file=out)
        out.flush()
        print(f"audited {name}", file=sys.stderr)
    out.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
