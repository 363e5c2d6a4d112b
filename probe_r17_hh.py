"""R17 probe (verdict item 4): phase profile of text_heavy_hitters'
two-scan Misra-Gries shape at sf0.1 — which phase owns the 2.2s wall:
the MG sketch pass (gram explode + Python boundary), the tiny metadata
jobs (n_total / candidate count), or the exact recount scan (gram
explode + broadcast join + groupBy + top-k collect).
"""
from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from omics_data_integration_utilities_spark.session import get_spark  # noqa: E402
from omics_data_integration_utilities_spark.operators.sketches import (  # noqa: E402
    _misra_gries_partition,
)
from omics_data_integration_utilities_spark.operators.text import (  # noqa: E402
    tokens_col,
    word_ngrams_col,
)
from omics_data_integration_utilities_spark.plans.registry import _spread_scan, _t  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CAPACITY = 16384
K = 50


def main() -> None:
    spark = get_spark("probe-r17-hh")
    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, 32).selectExpr(
        "pmod(xxhash64(id), 97) as b", "id"
    ).groupBy("b").agg({"id": "sum"}).count()
    print(f"calibration: {time.perf_counter() - t0:.3f}s loadavg={os.getloadavg()[0]:.1f}")

    docs = _spread_scan(_t(spark, SF_DIR, "documents"))
    grams = docs.select(F.explode(word_ngrams_col(tokens_col("text"), 3)).alias("ngram"))
    items = grams.select("ngram").where(F.col("ngram").isNotNull())
    n_grams = items.count()
    print(f"gram rows: {n_grams}")

    phases: dict[str, list[float]] = {}

    def mark(name, t0):
        phases.setdefault(name, []).append(time.perf_counter() - t0)
        return time.perf_counter()

    for _ in range(4):
        t = time.perf_counter()
        summary = items.mapInPandas(
            _misra_gries_partition("ngram", CAPACITY, None),
            schema="`ngram` string, part_rows long",
        ).localCheckpoint()
        t = mark("mg_sketch+ckpt", t)
        n_total = (
            summary.where(F.col("ngram").isNull()).agg(F.sum("part_rows")).first()[0]
        )
        t = mark("n_total", t)
        from omics_data_integration_utilities_spark.operators.buildside import (
            bounded_build_side,
        )

        cand_side, n_cand = bounded_build_side(
            summary.where(F.col("ngram").isNotNull()).select("ngram").distinct(),
            2_000_000,
        )
        t = mark("candidates+count", t)
        exact = (
            items.join(cand_side, "ngram")
            .groupBy("ngram")
            .agg(F.count(F.lit(1)).alias("n_occurrences"))
        )
        rows = (
            exact.orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
            .limit(K)
            .collect()
        )
        t = mark("recount+collect", t)
        assert len(rows) >= K and rows[-1]["n_occurrences"] * (CAPACITY + 1) > n_total
    for name, v in phases.items():
        print(f"{name:20s} med {statistics.median(v):6.3f}s  {[round(x,2) for x in v]}")
    print(f"loadavg={os.getloadavg()[0]:.1f}")
    spark.stop()


if __name__ == "__main__":
    main()
