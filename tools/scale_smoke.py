"""Scale-trend smoke: replicate lineitem/orders N× (shifted keys) and
measure how headline plan shapes scale. Near-linear growth (and
sub-linear per-row cost) is the evidence that the plans would survive
much larger inputs: constant-factor overheads amortize, no quadratic
blowups, shuffles stay keyed.

Synthetic replication is used ONLY for timing trends here — never for
correctness (the oracle gate runs exclusively on driver data).

Usage: python tools/scale_smoke.py [N_replicas=10]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    from pyspark.sql import functions as F

    from citus_spark.session import get_spark

    spark = get_spark("scale_smoke")
    sf = "/root/testdata/sf0.1"
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    od = spark.read.parquet(f"{sf}/orders.parquet")

    def replicate(df, key_cols):
        reps = spark.range(n).select(F.col("id").alias("_rep"))
        out = df.crossJoin(reps)
        for k in key_cols:
            out = out.withColumn(k, F.col(k) + F.col("_rep") * 10_000_000)
        return out.drop("_rep")

    big_li = replicate(li, ["l_orderkey"])
    big_od = replicate(od, ["o_orderkey"])
    big_li.createOrReplaceTempView("lineitem")
    big_od.createOrReplaceTempView("orders")

    import citus_spark.queries as q

    def run(sql_name: str) -> float:
        sql = q.ORACLES[sql_name]
        df = spark.sql(sql)
        df.write.format("noop").mode("overwrite").save()
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # baseline at 1× from the raw views
    li.createOrReplaceTempView("lineitem")
    od.createOrReplaceTempView("orders")
    base = {name: run(name) for name in ("tpch_q1", "tpch_q6", "tpch_q12")}

    big_li.createOrReplaceTempView("lineitem")
    big_od.createOrReplaceTempView("orders")
    big = {name: run(name) for name in ("tpch_q1", "tpch_q6", "tpch_q12")}

    print(f"rows: lineitem {li.count()} -> {big_li.count()} ({n}x)")
    for name in base:
        factor = big[name] / base[name]
        print(
            f"{name}: 1x={base[name]:.3f}s {n}x={big[name]:.3f}s "
            f"time-growth {factor:.1f}x (per-row cost {factor/n:.2f}x)"
        )


if __name__ == "__main__":
    main()
