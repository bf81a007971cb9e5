#!/usr/bin/env python
"""Measure the zone-map range-prune READ path's wall-time benefit
(VERDICT r10 #2's SCALE.md row): write the quantized events table into
a ParquetWarehouse fact under the production equal-count ZOrderLayout,
then time the same range aggregate through

* the UNPRUNED path — ``read_fact`` (every live file listed; pruning
  left to Spark's row-group stats), and
* the PRUNED path — ``read_fact_range`` (file listing cut down from
  parquet footer zone maps before Spark schedules anything),

reporting the pruner's files-read split (``prune_files_for_rect`` over
the one column, the listing ``read_fact_range`` reads) alongside both
walls.

Usage: python tools/range_read_sweep.py [sf_dir ...]
Defaults: /root/testdata/sf0.1 .scratch/sf1 .scratch/sf10
"""

from __future__ import annotations

import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from etl__project_spark.operators.layout import (  # noqa: E402
    ZOrderLayout,
    prune_files_for_rect,
)
from etl__project_spark.plans.star_load import (  # noqa: E402
    ParquetWarehouse,
    read_fact_range,
)
from etl__project_spark.session import get_spark  # noqa: E402
from etl__project_spark.sources.tables import load_table  # noqa: E402

SCHEMA = T.StructType(
    [T.StructField("ub", T.LongType()), T.StructField("vb", T.LongType())]
)
LO, HI = 32, 63  # vb range — the SECOND interleaved dimension


def timed(fn, n=3):
    walls = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return round(statistics.median(walls), 3)


def main() -> None:
    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.1",
        ".scratch/sf1",
        ".scratch/sf10",
    ]
    spark = get_spark("range_read_sweep")
    for sf_dir in sf_dirs:
        ev = load_table(spark, sf_dir, "events").select("user_id", "value")
        q = ev.select(
            F.least(F.col("user_id"), F.lit(255)).cast("long").alias("ub"),
            F.least(
                F.expr("cast(floor(value * 100 + 0.5) as long) div 256"),
                F.lit(255),
            )
            .cast("long")
            .alias("vb"),
        )
        wh = ParquetWarehouse(spark, tempfile.mkdtemp(prefix="range_sweep_"))
        wh.fact_append(
            "ev_z", q, "b0",
            layout=ZOrderLayout("ub", "vb", bits=8, n_files=64),
        )
        must, skipped = prune_files_for_rect(
            wh._live_dirs("ev_z"), {"vb": (LO, HI)}
        )

        def agg(df):
            return df.filter(F.col("vb").between(LO, HI)).groupBy("ub").agg(
                F.count(F.lit(1)).alias("n"), F.sum("vb").alias("s")
            )

        unpruned = timed(
            lambda: agg(wh.read_fact("ev_z", SCHEMA))
            .write.mode("overwrite").format("noop").save()
        )
        pruned = timed(
            lambda: read_fact_range(wh, "ev_z", SCHEMA, "vb", LO, HI)
            .groupBy("ub")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("vb").alias("s"))
            .write.mode("overwrite").format("noop").save()
        )
        n_rows = (
            agg(wh.read_fact("ev_z", SCHEMA)).agg(F.sum("n")).first()[0]
        )
        print(
            f"{sf_dir}: files {len(must)}/{len(must) + len(skipped)} read "
            f"(skip {len(skipped) / max(len(must) + len(skipped), 1):.2%}), "
            f"unpruned {unpruned}s pruned {pruned}s "
            f"(x{unpruned / max(pruned, 1e-9):.2f}), matched rows {n_rows}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
