#!/usr/bin/env python
"""Optimization probe: capture .explain("formatted") and/or time
individual bench/registry queries without running the whole bench.

Usage:
  python scripts_dev_probe.py plan  <out_dir> <out_suffix> <query> [query...]
  python scripts_dev_probe.py time  <runs> <query> [query...]
  python scripts_dev_probe.py both  <out_dir> <out_suffix> <runs> <query> [query...]

Plans go to <out_dir>/<query>_<out_suffix>.txt.  Timing uses the bench's
methodology exactly: build the DataFrame fresh each run, noop sink, wall
clock, best-of-N + p50 printed.  SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS are
honored like bench.py.
"""

from __future__ import annotations

import os
import sys
import time


def main() -> int:
    mode = sys.argv[1]
    if mode == "plan":
        out_dir, suffix, runs, names = sys.argv[2], sys.argv[3], 0, sys.argv[4:]
    elif mode == "time":
        out_dir, suffix, runs, names = None, None, int(sys.argv[2]), sys.argv[3:]
    else:
        out_dir, suffix = sys.argv[2], sys.argv[3]
        runs, names = int(sys.argv[4]), sys.argv[5:]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from tensorbase_spark.queries import registry
    from tensorbase_spark.session import get_spark
    from tensorbase_spark.sources.tables import load_tables

    spark = get_spark("tensorbase_probe")
    reg = registry()

    # same warm-up as bench.py so timings are comparable
    if runs:
        for df in load_tables(spark, sf_dir).values():
            df.count()
        from pyspark.sql import functions as F
        from pyspark.sql.types import DoubleType

        @F.pandas_udf(DoubleType())
        def _warm(v):
            return v * 1.0

        spark.range(10000).select(
            _warm(F.col("id").cast("double"))
        ).write.format("noop").mode("overwrite").save()

    if out_dir is not None:
        os.makedirs(out_dir, exist_ok=True)
    for name in names:
        q = reg[name]
        if suffix is not None:
            df = q.fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({len(plan)} chars)", file=sys.stderr)
        if runs:
            spark.sparkContext.setJobDescription(f"probe: {name}")
            samples = []
            for _ in range(runs):
                t0 = time.perf_counter()
                df = q.fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
            spark.sparkContext.setJobDescription(None)
            samples.sort()
            print(
                f"{name}: best {samples[0]:.3f}s p50 "
                f"{samples[len(samples) // 2]:.3f}s all "
                f"{[round(s, 3) for s in samples]}"
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
