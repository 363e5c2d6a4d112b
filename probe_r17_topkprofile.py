"""R17 probe (verdict item 3): phase profile of the sim_index_topk COLD
lifecycle rep (drop + IVF build + probe), which is the slow tier's
biggest by-design line.  build_ann_index is decomposed into its actual
phases — sample+train (driver k-means over the bounded hash sample),
assignment+bucketed-write (the corpus mapInPandas pass + 16-bucket
saveAsTable), sidecar writes, probe — so the ≥1.3x-or-reject decision
is made against the phase that actually owns the wall.
"""
from __future__ import annotations

import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from omics_data_integration_utilities_spark.session import get_spark  # noqa: E402
from omics_data_integration_utilities_spark.operators import similarity as S  # noqa: E402
from omics_data_integration_utilities_spark.operators.dedup import _write_index_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    spark = get_spark("probe-r17-topkprofile")
    t0 = time.perf_counter()
    spark.range(0, 20_000_000, 1, 32).selectExpr(
        "pmod(xxhash64(id), 97) as b", "id"
    ).groupBy("b").agg({"id": "sum"}).count()
    print(f"calibration: {time.perf_counter() - t0:.3f}s loadavg={os.getloadavg()[0]:.1f}")

    from omics_data_integration_utilities_spark.plans.registry import _spread_scan, _t

    reps = 4
    phases: dict[str, list[float]] = {}

    def mark(name, t0):
        phases.setdefault(name, []).append(time.perf_counter() - t0)
        return time.perf_counter()

    for rep in range(reps):
        emb = _spread_scan(_t(spark, SF_DIR, "embeddings"))
        path = tempfile.mkdtemp(prefix=f"r17prof_{rep}_")
        name = f"r17prof_{rep}"
        t = time.perf_counter()
        assigned, cents = S.ivf_assign(emb, "embedding", "vec_id", 16)
        t = mark("train(sample+kmeans)", t)
        lists_df = assigned.select("vec_id", "embedding", "list_id")
        idx = S.AnnIndex(
            name, path, 16, 16, "embedding", "vec_id", cents,
            id_type=dict(lists_df.dtypes)["vec_id"],
            vec_type=dict(lists_df.dtypes)["embedding"],
        )
        _write_index_table(lists_df, idx.lists_table, path, "list_id", 16)
        t = mark("assign+bucketed_write", t)
        S._write_ann_sidecars(spark, idx)
        t = mark("sidecars", t)
        queries = emb.where(F.col("vec_id") % 50 == 0)
        S.ann_index_topk(spark, queries, idx, k=5, n_probes=16).count()
        t = mark("probe", t)
        spark.sql(f"DROP TABLE IF EXISTS {idx.lists_table}")
        shutil.rmtree(path, ignore_errors=True)
        mark("drop+cleanup", t)

    total = 0.0
    for name, v in phases.items():
        med = statistics.median(v)
        total += med
        print(f"{name:24s} med {med:6.3f}s  min {min(v):6.3f}  {[round(x,2) for x in v]}")
    print(f"{'TOTAL(med)':24s} {total:6.3f}s loadavg={os.getloadavg()[0]:.1f}")
    spark.stop()


if __name__ == "__main__":
    main()
