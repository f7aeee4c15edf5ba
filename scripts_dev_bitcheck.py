#!/usr/bin/env python
"""Bit-identity sweep: collect the result sets of the given registry
queries at the given SF dirs and write them (sorted stringified tuples) to
<out_dir>/bitcheck.txt — run under two checkouts (old/new code) and diff
the outputs to prove result identity.  Every SQL string each query hands
to ``spark.sql`` goes to <out_dir>/bitcheck_sql.txt, so the same diff also
proves a dialect-translation change emits the same Spark SQL.

Usage: python scripts_dev_bitcheck.py <out_dir> [query...]
No query names: every registry query.  A query that raises is recorded
as ``ERROR <type>`` in bitcheck.txt and the sweep goes on.
SF dirs via SPARK_GRAFT_BITCHECK_SFS (comma-sep, default sf0.01,sf0.1).

The persisted ANN indexes under /tmp are deleted first: their source stamp
covers the data and the build parameters but not the code, so a run would
otherwise search an index another checkout built.
"""

from __future__ import annotations

import os
import shutil
import sys

INDEX_DIRS = ("/tmp/tbs_ivf_index", "/tmp/tbs_ivfpq_index")


def main() -> int:
    out_dir = sys.argv[1]
    sfs = os.environ.get(
        "SPARK_GRAFT_BITCHECK_SFS", "/root/testdata/sf0.01,/root/testdata/sf0.1"
    ).split(",")
    for d in INDEX_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    from pyspark.sql import SparkSession

    from tensorbase_spark.queries import registry
    from tensorbase_spark.session import get_spark

    sent: list[str] = []
    spark_sql = SparkSession.sql

    def logged_sql(self, sqlQuery, *a, **kw):
        sent.append(sqlQuery)
        return spark_sql(self, sqlQuery, *a, **kw)

    SparkSession.sql = logged_sql
    spark = get_spark("bitcheck")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    names = sys.argv[2:] or list(reg)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "bitcheck.txt"), "w") as f, open(
        os.path.join(out_dir, "bitcheck_sql.txt"), "w"
    ) as fs:
        for sf_dir in sfs:
            for name in names:
                del sent[:]
                try:
                    rows = sorted(
                        str(tuple(r)) for r in reg[name].fn(spark, sf_dir).collect()
                    )
                except Exception as e:
                    rows = None
                    f.write(f"== {name} @ {sf_dir}: ERROR {type(e).__name__}\n")
                else:
                    f.write(f"== {name} @ {sf_dir}: {len(rows)} rows\n")
                    for r in rows:
                        f.write(r + "\n")
                fs.write(f"== {name} @ {sf_dir}: {len(sent)} statements\n")
                for s in sent:
                    fs.write(s + "\n--\n")
                f.flush()
                fs.flush()
                n = "ERROR" if rows is None else len(rows)
                print(f"{name} @ {sf_dir}: {n} rows", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
