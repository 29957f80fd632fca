"""r14 scale probe: (a) the HASH-bucket fallback for wide CoW commits
on RANDOM key layouts (r13 verdict ask #2 — range bucketing honestly
refuses there, so pre-r14 these funneled through one task), and
(b) the merge-on-read change feed's cost curve on CLUSTERED vs
SCATTERED key layouts (r13 verdict ask #7), now that scattered wide
MoR merges hash-slice too.

Tables are built under .scale_test/r14_* at 1×/10×/100× (200 k / 2 M /
20 M rows); each point drains the registered format's batch change
feed into a noop sink, min-of-2 warm, default planning vs
``changeFeedBuckets=false`` (the pre-bucketing funnel). Planned
partition counts come from the same ``_plan_cdf_partitions`` call the
reader makes. Results → docs/SCALING.md (round-14 section).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_analyse_marche_emploi_spark.session import get_spark  # noqa: E402
from data_analyse_marche_emploi_spark.sources import txlog as TX  # noqa: E402
from data_analyse_marche_emploi_spark.sources.txlog import (  # noqa: E402
    TxTable,
    register_txlog_source,
)

OUT = ".scale_test"
SIZES = [200_000, 2_000_000, 20_000_000]


def bench_drain(spark, path: str, start: int, bucketing: bool) -> float:
    df = (
        spark.read.format("txlog")
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("changeFeedKey", "k")
        .option("startingVersion", str(start))
    )
    if not bucketing:
        df = df.option("changeFeedBuckets", "false")
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        df.load().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t0)
    return round(best, 2)


def planned(path: str, start: int, end: int) -> int:
    t = TxTable(None, path)
    return len([
        q
        for q in TX._plan_cdf_partitions(
            t, path, t._snapshot(start), end, "k"
        )[0]
        if q.kind in ("cow", "mor")
    ])


def cow_random(spark, n: int) -> dict:
    path = f"{OUT}/r14_cow_{n}"
    shutil.rmtree(path, ignore_errors=True)
    df = spark.range(n).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    # hash layout: every file spans ~the full key range → range
    # bucketing refuses, the hash fallback is the only parallel plan
    t = TxTable.create(spark, path, df.repartition(16, "k"))
    t.update_where("k % 2 = 0", {"v": "upper(v)"})  # wide CoW commit
    return {
        "rows": n,
        "partitions": planned(path, 0, 1),
        "bucketed_s": bench_drain(spark, path, 1, True),
        "funnel_s": bench_drain(spark, path, 1, False),
    }


def mor_layout(spark, n: int, clustered: bool) -> dict:
    path = f"{OUT}/r14_mor_{'c' if clustered else 's'}_{n}"
    shutil.rmtree(path, ignore_errors=True)
    df = spark.range(n).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    layout = (
        df.repartitionByRange(16, "k") if clustered
        else df.repartition(16, "k")
    )
    t = TxTable.create(spark, path, layout)
    ups = spark.range(0, n, 2).select(
        F.col("id").alias("k"), F.lit("UP").alias("v")
    )
    t.merge_upsert(ups, "k", mode="mor")  # wide MoR merge
    return {
        "rows": n,
        "layout": "clustered" if clustered else "scattered",
        "partitions": planned(path, 0, 1),
        "bucketed_s": bench_drain(spark, path, 1, True),
        "funnel_s": bench_drain(spark, path, 1, False),
    }


def main() -> None:
    spark = get_spark("r14-probe", extra_conf={
        "spark.driver.memory": "16g",
        "spark.ui.showConsoleProgress": "false",
    })
    register_txlog_source(spark)
    os.makedirs(OUT, exist_ok=True)
    for n in SIZES:
        print(json.dumps({"probe": "cow_random", **cow_random(spark, n)}),
              flush=True)
    for n in SIZES:
        for clustered in (True, False):
            print(json.dumps(
                {"probe": "mor", **mor_layout(spark, n, clustered)}
            ), flush=True)


if __name__ == "__main__":
    main()
