"""R16 probe: the schema-evolution maintenance commit
(`rebucket_bucketed_snapshot(transform=...)`) under snapshot growth —
verifying the claims its docstring makes:

1. evolution cost is O(snapshot) BY DESIGN and stays there as the
   snapshot grows: bytes written by the evolve commit track the
   snapshot's own size linearly across 1x/4x/16x seeds (plus the new
   column's share; the wall is single-box scheduler noise at MB scale,
   as with every snapshot probe — bytes are the honest headline);
2. the pin makes drift REFUSAL O(1): the refused ad-hoc widened commit
   writes zero bytes at every scale (the check runs before any write);
3. row-for-row fidelity and post-evolution MERGE both hold across the
   boundary at every scale.

Setup per scale S (sf documents x mult, n_buckets=16): seed, one
same-shape update wave, then (a) attempt an ad-hoc widened commit —
must raise with 0 bytes written, (b) evolve through transform (add a
derived bigint column), (c) MERGE one wave in the new shape.  Reported
per scale: snapshot bytes, refusal bytes, evolve bytes/wall and
bytes-over-snapshot, post-evolve MERGE bytes (must stay O(touched
buckets), not O(snapshot)), and read-back fidelity.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from omics_data_integration_utilities_spark.session import get_spark  # noqa: E402
from omics_data_integration_utilities_spark.streaming.sinks import (  # noqa: E402
    read_bucketed_snapshot,
    rebucket_bucketed_snapshot,
    upsert_batch_into_bucketed_snapshot,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_BUCKETS = 16


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _version_bytes(snap: str) -> int:
    return sum(
        _du(os.path.join(snap, n))
        for n in os.listdir(snap)
        if n.startswith("v") and os.path.isdir(os.path.join(snap, n))
    )


def _live_bytes(snap: str) -> int:
    """Bytes of the data CURRENT actually references — the honest
    O(snapshot) denominator (the version dirs also hold the retained
    superseded generation, which would overstate the snapshot ~2x)."""
    cur = open(os.path.join(snap, "CURRENT")).read().strip()
    man = json.load(open(os.path.join(snap, cur)))
    return sum(_du(os.path.join(snap, rel)) for rel in man["buckets"].values())


def main() -> None:
    spark = get_spark("probe-evolve")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "n_chars", "text"
    )
    base_n = docs.count()
    out = {"sf_dir": SF_DIR, "n_buckets": N_BUCKETS, "scales": []}
    for mult in (1, 4, 16):
        seed = (
            docs.withColumn(
                "__copy", F.explode(F.sequence(F.lit(0), F.lit(mult - 1)))
            )
            .select(
                (F.col("doc_id") + F.col("__copy") * F.lit(10_000_000)).alias("k"),
                F.col("n_chars").cast("bigint").alias("n_chars"),
                "text",
            )
        )
        snap = tempfile.mkdtemp(prefix="probe_evolve16x_")
        rec = {"mult": mult, "seed_rows": base_n * mult}
        try:
            upsert_batch_into_bucketed_snapshot(
                spark, seed, snap, ["k"], batch_id=0, n_buckets=N_BUCKETS
            )
            upd = seed.where(F.col("k") % 13 == 0).withColumn(
                "n_chars", F.col("n_chars") + 1000
            )
            upsert_batch_into_bucketed_snapshot(
                spark, upd, snap, ["k"], batch_id=1, n_buckets=N_BUCKETS
            )
            rec["snapshot_bytes"] = _live_bytes(snap)
            rows_before = read_bucketed_snapshot(spark, snap).count()
            # (a) refused ad-hoc drift is O(1): zero bytes written
            bytes_pre = _version_bytes(snap)
            widened = upd.withColumn("n_kchars", F.expr("n_chars div 1000"))
            try:
                upsert_batch_into_bucketed_snapshot(
                    spark, widened, snap, ["k"], batch_id=2, n_buckets=N_BUCKETS
                )
                raise SystemExit("pin FAILED to refuse the widened commit")
            except ValueError:
                pass
            rec["refusal_bytes_written"] = _version_bytes(snap) - bytes_pre
            # (b) the evolve commit: O(snapshot) rewrite, re-pins schema
            before = {n for n in os.listdir(snap) if n.startswith("v")}
            t0 = time.monotonic()
            rebucket_bucketed_snapshot(
                spark, snap, ["k"], batch_id=2, new_n_buckets=N_BUCKETS,
                transform=lambda df: df.withColumn(
                    "n_kchars", F.expr("n_chars div 1000")
                ),
            )
            wall = round(time.monotonic() - t0, 3)
            evolve_bytes = sum(
                _du(os.path.join(snap, n))
                for n in os.listdir(snap)
                if n.startswith("v") and n not in before
            )
            rec["evolve"] = {
                "wall_s": wall,
                "bytes_written": evolve_bytes,
                "bytes_over_snapshot": round(
                    evolve_bytes / max(1, rec["snapshot_bytes"]), 3
                ),
            }
            # (c) post-evolution MERGE stays O(touched buckets): the
            # wave is confined to 2 of the 16 buckets (the probe shape of
            # SCALE.md's r14 bucketed-upsert entry), so its bytes must track
            # ~2/16 of the snapshot, not the snapshot
            upd2 = (
                seed.where(
                    F.pmod(F.xxhash64(F.col("k")), F.lit(N_BUCKETS)).isin(0, 1)
                )
                .withColumn("n_chars", F.expr("n_chars div 2"))
                .withColumn("n_kchars", F.expr("n_chars div 1000"))
                .localCheckpoint()
            )
            before = {n for n in os.listdir(snap) if n.startswith("v")}
            upsert_batch_into_bucketed_snapshot(
                spark, upd2, snap, ["k"], batch_id=3, n_buckets=N_BUCKETS
            )
            rec["post_evolve_merge_bytes"] = sum(
                _du(os.path.join(snap, n))
                for n in os.listdir(snap)
                if n.startswith("v") and n not in before
            )
            snap_df = read_bucketed_snapshot(spark, snap)
            rec["rows_fidelity"] = snap_df.count() == rows_before
            rec["evolved_schema_ok"] = "n_kchars" in snap_df.columns
        finally:
            shutil.rmtree(snap, ignore_errors=True)
        out["scales"].append(rec)
        print(json.dumps(rec), flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
