"""Micro A/B harness: time a subset of registered queries with the SAME
session config / warmup / noop-sink methodology as bench.py, without the
index builds and lanes the full bench pays. For optimization-loop A/Bs
only — BENCH_LAST.json / the committed captures stay the record.

Usage: python tools/microbench.py <query> [query ...] [--runs=N] [--sf=DIR]
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 3
    sf_dir = "/root/testdata/sf0.1"
    for a in sys.argv[1:]:
        if a.startswith("--runs="):
            runs = int(a.split("=", 1)[1])
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .appName("qss-microbench")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from qbeast_spark_spark.queries import QUERIES

    for name in names:
        fn, _sql = QUERIES[name]
        try:  # one discarded run on the measured data: codegen, Arrow
            # worker spinup and that scale's caches are warm for sample 1
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        except Exception as e:
            print(f"{name}: warmup failed: {e}")
        samples = []
        for _ in range(runs):
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
            spark.catalog.clearCache()
            del df
            gc.collect()
        print(f"{name:32s} med {statistics.median(samples):7.3f} "
              f"min {min(samples):7.3f}  {['%.3f' % s for s in samples]}")


if __name__ == "__main__":
    main()
