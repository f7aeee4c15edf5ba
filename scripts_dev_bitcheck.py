#!/usr/bin/env python
"""Bit-identity sweep: collect the result sets of the given registry
queries at the given SF dirs and write them (sorted stringified tuples) to
<out_dir>/bitcheck.txt — run under two checkouts (old/new code) and diff
the outputs to prove result identity.

Usage: python scripts_dev_bitcheck.py <out_dir> <query> [query...]
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
    names = sys.argv[2:]
    sfs = os.environ.get(
        "SPARK_GRAFT_BITCHECK_SFS", "/root/testdata/sf0.01,/root/testdata/sf0.1"
    ).split(",")
    for d in INDEX_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    from tensorbase_spark.queries import registry
    from tensorbase_spark.session import get_spark

    spark = get_spark("bitcheck")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "bitcheck.txt"), "w") as f:
        for sf_dir in sfs:
            for name in names:
                rows = sorted(str(tuple(r)) for r in reg[name].fn(spark, sf_dir).collect())
                f.write(f"== {name} @ {sf_dir}: {len(rows)} rows\n")
                for r in rows:
                    f.write(r + "\n")
                print(f"{name} @ {sf_dir}: {len(rows)} rows", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
