"""The ``streaming`` package: event-time normalisation and windows,
the curation report, drift flags, and the bucketed snapshot commit
units (MERGE, CDC, retention, time travel, replay)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import SF_SMOKE, jobs_fired


def test_package_is_batch_only():
    """The engine is batch-only: no module of the package reaches the
    Structured Streaming API (code references, parsed — docstrings and
    comments do not count)."""
    import ast
    import pathlib

    import omics_data_integration_utilities_spark as pkg

    api = {"readStream", "writeStream", "applyInPandasWithState", "foreachBatch"}
    root = pathlib.Path(pkg.__file__).parent
    hits = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Attribute):
                name = node.attr
            elif isinstance(node, ast.Name):
                name = node.id
            elif isinstance(node, ast.ImportFrom):
                name = node.module or ""
            elif isinstance(node, ast.Import):
                name = " ".join(a.name for a in node.names)
            else:
                continue
            if name in api or "pyspark.sql.streaming" in name:
                hits.append(f"{path.relative_to(root)}:{node.lineno}: {name}")
    assert hits == []


def test_snapshot_names_and_listing_have_one_site():
    """The ``:012d`` version and manifest name formats and the
    ``_MANIFEST_PREFIX`` manifest listing each occur in one function
    under ``streaming/``: one commit skeleton names every commit, and one
    lister finds the generations for commits, retention and recovery."""
    import ast
    import pathlib

    import omics_data_integration_utilities_spark.streaming as pkg

    sites = {":012d": set(), "startswith(_MANIFEST_PREFIX)": set()}
    for path in sorted(pathlib.Path(pkg.__file__).parent.glob("*.py")):
        src = path.read_text()
        funcs = [
            n for n in ast.walk(ast.parse(src, str(path)))
            if isinstance(n, ast.FunctionDef)
        ]
        for i, line in enumerate(src.splitlines(), 1):
            for pattern, found in sites.items():
                if pattern in line:
                    owners = [f for f in funcs if f.lineno <= i <= f.end_lineno]
                    inner = min(owners, key=lambda f: f.end_lineno - f.lineno, default=None)
                    found.add(f"{path.name}:{inner.name if inner else '<module>'}")
    assert all(len(found) == 1 for found in sites.values()), sites


def test_ts_event_micros_all_encodings(spark):
    """The dtype-dispatching normalizer returns identical epoch micros for
    the three ts encodings the events parquet has shipped with (int64
    nanos under nanosAsLong, TIMESTAMP_NTZ micros, instant TIMESTAMP) —
    and is independent of the session timezone (the round-5 failure
    class: an encoding change silently breaking every window query)."""
    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.streaming.events import (
        ts_event_micros,
        tumbling_event_agg,
    )

    us = [1704067798778549, 1704068166738090, 1704153600000000]
    as_nanos = spark.createDataFrame([(u * 1000,) for u in us], "ts long")
    as_ntz = spark.createDataFrame([(u,) for u in us], "ts long").select(
        F.timestamp_micros(F.col("ts")).cast("timestamp_ntz").alias("ts")
    )
    as_instant = spark.createDataFrame([(u,) for u in us], "ts long").select(
        F.timestamp_micros(F.col("ts")).alias("ts")
    )
    assert dict(as_ntz.dtypes)["ts"] == "timestamp_ntz"
    assert dict(as_instant.dtypes)["ts"] == "timestamp"

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            for df in (as_nanos, as_ntz, as_instant):
                got = sorted(
                    r[0] for r in df.select(ts_event_micros(df)).collect()
                )
                assert got == sorted(us), (tz, dict(df.dtypes))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)

    # the tumbling bucket is the same integer under every encoding
    buckets = set()
    for df in (as_nanos, as_ntz, as_instant):
        agg = tumbling_event_agg(df.withColumn("event_type", F.lit("e")).withColumn("value", F.lit(1.0)), 3600)
        buckets.add(tuple(sorted(r["bucket"] for r in agg.collect())))
    assert len(buckets) == 1

    # unsupported dtype fails loudly, not silently
    import pytest

    bad = spark.createDataFrame([("x",)], "ts string")
    with pytest.raises(TypeError):
        ts_event_micros(bad)


def test_curate_batch_counts_null_source_group(spark):
    """A NULL source is ONE group (matching the SQL oracle's GROUP BY
    semantics): the totals→per_source join is null-SAFE, so the NULL
    group's gated/kept counts must carry through instead of zeroing via
    the left-join fillna."""
    from omics_data_integration_utilities_spark.streaming.pipeline import (
        curate_doc_batch_counts,
    )

    good = (
        "The quick brown fox jumps over the lazy dog and keeps going "
        "with enough well formed words to clear the quality gate easily "
        "because it has normal punctuation, normal length, and stopwords."
    )
    rows = [
        (1, good, None),
        (2, good + " More of the same well formed filler text here.", None),
        (3, "!!!", None),  # gated out
        (4, good, "web"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    report = {
        r["source"]: (r["n_in"], r["n_gated"], r["n_kept_hashes"])
        for r in curate_doc_batch_counts(df).collect()
    }
    assert report[None][0] == 3
    assert report[None][1] == 2 and report[None][2] == 2
    assert report["web"] == (1, 1, 1)
    assert report["__all__"][0] == 4


def test_multires_rollup_coarse_equals_direct(spark):
    """rollup(rollup(x)) == rollup(x): each coarser level (derived from
    the finer AGGREGATE) must equal the same resolution computed directly
    from raw — guaranteed by decimal-exact sums; also the resolution
    validation refuses empty, non-positive, descending and
    non-divisible ladders before building a plan."""
    import pytest

    from omics_data_integration_utilities_spark.streaming.events import (
        multires_rollup,
        tumbling_event_agg,
    )

    path = f"{SF_SMOKE}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = spark.read.parquet(path)
    rolled = multires_rollup(events, (60, 3600))
    hourly_via_rollup = sorted(
        (r["bucket"], r["event_type"], r["n"], r["sum_value"])
        for r in rolled.where(F.col("resolution_s") == 3600).collect()
    )
    direct = sorted(
        (r["bucket"], r["event_type"], r["n"], round(r["sum_value"], 4))
        for r in tumbling_event_agg(events, 3600).collect()
    )
    assert hourly_via_rollup == direct and len(direct) > 0

    with pytest.raises(ValueError, match="divide"):
        multires_rollup(events, (60, 90))
    with pytest.raises(ValueError, match="ascending"):
        multires_rollup(events, (3600, 60))
    for bad in ((), (0, 60), (-60,)):
        with pytest.raises(ValueError, match="non-empty and positive"):
            multires_rollup(events, bad)


def test_upsert_sink_matches_batch_merge(spark, tmp_path):
    """MERGE through the snapshot: two commits of the upsert unit (key
    2 updates, key 4 inserts in the second) leave exactly the batch
    upsert of (batch2 over batch1)."""
    from omics_data_integration_utilities_spark.operators.joins import (
        upsert_snapshot,
    )
    from omics_data_integration_utilities_spark.streaming.sinks import (
        read_bucketed_snapshot,
        upsert_batch_into_bucketed_snapshot,
    )

    b1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    b2 = spark.createDataFrame(
        [(2, "B2", 22.0), (4, "d", 40.0)], "k long, name string, v double"
    )
    snapshot = str(tmp_path / "snapshot")
    read = lambda: {  # noqa: E731
        r["k"]: (r["name"], r["v"])
        for r in read_bucketed_snapshot(spark, snapshot).collect()
    }
    upsert_batch_into_bucketed_snapshot(spark, b1, snapshot, ["k"], batch_id=0)
    assert read() == {1: ("a", 10.0), 2: ("b", 20.0), 3: ("c", 30.0)}
    upsert_batch_into_bucketed_snapshot(spark, b2, snapshot, ["k"], batch_id=1)
    want = {
        r["k"]: (r["name"], r["v"])
        for r in upsert_snapshot(b1, b2, ["k"]).collect()
    }
    assert read() == want == {
        1: ("a", 10.0), 2: ("B2", 22.0), 3: ("c", 30.0), 4: ("d", 40.0)
    }


def test_nightly_ingest_integration(spark, tmp_path):
    """The composed nightly-ingest shape, end to end across modules:
    curated batch (quality gate + exact dedup) -> bucketed upsert
    snapshot -> persisted bucketed dedup index built FROM the snapshot
    -> next batch probed for verdicts.  Every piece is individually
    verified elsewhere; this pins the cross-module contract (schemas,
    id/text column conventions, index build from a committed
    snapshot)."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_verdicts_indexed,
    )
    from omics_data_integration_utilities_spark.streaming.pipeline import (
        _gated_projection,
    )
    from omics_data_integration_utilities_spark.streaming.sinks import (
        read_bucketed_snapshot,
        upsert_batch_into_bucketed_snapshot,
    )

    docs_path = f"{SF_SMOKE}/documents.parquet"
    docs = spark.read.parquet(docs_path)
    curated = _gated_projection(docs, "text", "doc_id", 0.5).dropDuplicates(
        ["content_hash"]
    )
    snapshot = str(tmp_path / "kept_snapshot")
    upsert_batch_into_bucketed_snapshot(
        spark, curated, snapshot, ["content_hash"], batch_id=0
    )

    kept = read_bucketed_snapshot(spark, snapshot)
    n_kept = kept.count()
    assert n_kept > 0
    assert kept.select("content_hash").distinct().count() == n_kept

    # the snapshot needs the text to index; join it back by id
    corpus = kept.select("doc_id").join(docs, "doc_id")

    idx = build_dedup_index(
        corpus, "text", "doc_id", "nightly_idx",
        str(tmp_path / "idx"), n_buckets=8,
    )
    # probe: one exact copy of a kept doc, one novel doc
    sample = corpus.orderBy("doc_id").limit(1).collect()[0]
    probe = spark.createDataFrame(
        [
            (10_000_001, sample["text"]),
            (10_000_002, "entirely novel text never seen in the corpus x y z"),
        ],
        "doc_id long, text string",
    )
    verdicts = {
        r["doc_id"]: r["verdict"]
        for r in incremental_dedup_verdicts_indexed(
            probe, idx, "text", "doc_id"
        ).collect()
    }
    assert verdicts[10_000_001] == "exact_ref"
    assert verdicts[10_000_002] == "novel"


def test_upsert_snapshot_retention_horizon(spark, tmp_path):
    """keep_versions retains the newest N manifests so a reader's lazy
    scan survives N-1 further flips.  With one bucket every commit
    rewrites the whole snapshot, so exactly the newest N version dirs
    stay referenced."""
    import os

    from omics_data_integration_utilities_spark.streaming.sinks import (
        read_bucketed_snapshot,
        upsert_batch_into_bucketed_snapshot,
    )

    snap = str(tmp_path / "snap_keep")
    for i in range(5):
        b = spark.createDataFrame([(i, float(i))], "k long, v double")
        upsert_batch_into_bucketed_snapshot(
            spark, b, snap, ["k"], batch_id=i, n_buckets=1, keep_versions=3
        )
    versions = sorted(n for n in os.listdir(snap) if n.startswith("v"))
    assert versions == ["v000000000002", "v000000000003", "v000000000004"]
    manifests = sorted(n for n in os.listdir(snap) if n.startswith("m"))
    assert manifests == [f"m00000000000{i}.json" for i in (2, 3, 4)]
    # the oldest retained generation still time-travel-reads
    old = read_bucketed_snapshot(spark, snap, manifest="m000000000002.json")
    assert sorted(r["k"] for r in old.collect()) == [0, 1, 2]


def test_drift_flags_mean_and_null_jump(spark):
    from omics_data_integration_utilities_spark.streaming.profile import drift_flags

    ref = spark.createDataFrame(
        [("value", 50.0, 10.0, 990, 10), ("user_id", 75.0, 40.0, 1000, 0)],
        "col_name string, mean double, stddev double, n_nonnull long, n_nulls long",
    )
    cur = spark.createDataFrame(
        [
            # mean shifted by 5 sigma, nulls stable -> mean_drift only
            (1, "value", 95, 5, 100.0, 9.0, 1.0, 200.0),
            # mean stable, null fraction 0.0 -> 0.2 -> null_drift only
            (1, "user_id", 80, 20, 74.0, 41.0, 0.0, 149.0),
            # both stable -> no flags
            (2, "value", 99, 1, 51.0, 10.5, 0.5, 199.0),
        ],
        "bucket long, col_name string, n_nonnull long, n_nulls long, "
        "mean double, stddev double, min_value double, max_value double",
    )
    out = {
        (r["bucket"], r["col_name"]): (r["mean_drift"], r["null_drift"])
        for r in drift_flags(cur, ref).collect()
    }
    assert out[(1, "value")] == (True, False)
    assert out[(1, "user_id")] == (False, True)
    assert out[(2, "value")] == (False, False)


def test_observability_day_integration(spark, tmp_path):
    """The r13 observability composite, end to end across modules: two
    ingest days -> per-day mergeable profile slices -> all-time merged
    card; day-2 windowed profile checked for drift against the day-1
    reference (the schema contract between windowed_profile_agg rows
    and drift_flags' reference argument); curated corpus written
    partitioned-by-source and read back pruned.  Each piece is verified
    alone elsewhere; this pins the cross-module schemas."""
    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.operators.profile import (
        estimate_profile,
        merge_profile_sketches,
        profile_sketches,
        profile_table,
    )
    from omics_data_integration_utilities_spark.sources.layout import (
        read_table,
        write_partitioned,
    )
    from omics_data_integration_utilities_spark.streaming.profile import (
        drift_flags,
        windowed_profile_agg,
    )
    from .conftest import SF_SMOKE

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    day1 = events.where(F.col("event_id") % 2 == 0)
    day2 = events.where(F.col("event_id") % 2 == 1)

    # (1) mergeable slices -> all-time card
    cols = ["user_id", "value", "event_type"]
    slices = profile_sketches(day1, cols, slice_id="d1").unionByName(
        profile_sketches(day2, cols, slice_id="d2")
    )
    alltime = {
        r["col_name"]: r.asDict()
        for r in estimate_profile(
            merge_profile_sketches(slices.drop("slice_id"))
        ).collect()
    }
    whole = {
        r["col_name"]: r.asDict() for r in profile_table(events, cols).collect()
    }
    for c in cols:
        assert alltime[c]["n_rows"] == whole[c]["n_rows"]
        assert alltime[c]["min_value"] == whole[c]["min_value"]
        assert alltime[c]["max_value"] == whole[c]["max_value"]

    # (2) day-2 windowed profile vs day-1 reference: the reference arg
    # accepts a (col_name, mean, stddev, n_nonnull, n_nulls) projection
    # of any profile relation — here day-1 moments via one global window
    ref = (
        windowed_profile_agg(day1.withColumn("ts", F.col("ts")), ["value"], 10**9)
        .select("col_name", "mean", "stddev", "n_nonnull", "n_nulls")
    )
    # daily windows so each carries enough events for the 3-sigma rule
    # to be meaningful at smoke scale
    cur = windowed_profile_agg(day2, ["value"], 86_400)
    flagged = drift_flags(cur, ref).collect()
    assert len(flagged) > 0
    # same feed split by event-id parity: well-populated windows must
    # not drift (a 1-2 event window CAN legitimately trip a 3-sigma
    # mean rule on this heavy-tailed value column — that is the
    # operator behaving, not a bug, so small windows are out of scope)
    big = [r for r in flagged if r["n_nonnull"] >= 10]
    assert len(big) > 0
    assert not any(r["mean_drift"] or r["null_drift"] for r in big)

    # (3) curated write partitioned by source + pruned read-back
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = str(tmp_path / "curated_layout")
    write_partitioned(docs, out, ["source"], cluster_by=["doc_id"])
    one_source = docs.select("source").orderBy("source").limit(1).collect()[0][0]
    got = (
        read_table(spark, out)
        .where(F.col("source") == one_source)
        .select("doc_id")
        .collect()
    )
    want = docs.where(F.col("source") == one_source).select("doc_id").collect()
    assert sorted(r[0] for r in got) == sorted(r[0] for r in want)


def test_drift_flags_total_semantics_missing_ref_and_null_stddev(spark):
    """Review regression (r13): drift flags are TOTAL booleans — a
    column missing from the reference raises ref_missing AND both
    flags (schema drift is the loudest drift); a NULL reference stddev
    (single-sample window) yields mean_drift=False, never NULL."""
    from omics_data_integration_utilities_spark.streaming.profile import drift_flags

    ref = spark.createDataFrame(
        [("value", 50.0, None, 100, 0)],
        "col_name string, mean double, stddev double, n_nonnull long, n_nulls long",
    )
    cur = spark.createDataFrame(
        [
            (1, "value", 100, 0, 500.0, 1.0, 0.0, 900.0),   # huge shift, ref stddev NULL
            (1, "brand_new_col", 100, 0, 1.0, 1.0, 0.0, 2.0),  # not in ref
        ],
        "bucket long, col_name string, n_nonnull long, n_nulls long, "
        "mean double, stddev double, min_value double, max_value double",
    )
    out = {r["col_name"]: r.asDict() for r in drift_flags(cur, ref).collect()}
    nv = out["value"]
    assert nv["ref_missing"] is False
    assert nv["mean_drift"] is False and nv["null_drift"] is False
    bn = out["brand_new_col"]
    assert bn["ref_missing"] is True
    assert bn["mean_drift"] is True and bn["null_drift"] is True
    # no NULLs anywhere in the flag columns
    assert all(
        r[k] is not None for r in out.values()
        for k in ("ref_missing", "mean_drift", "null_drift")
    )


@pytest.mark.parametrize("n_buckets", [1, 8])
def test_bucketed_upsert_parity_with_reference_merge(spark, tmp_path, n_buckets):
    """r13 verdict item 2: the bucketed snapshot is a LAYOUT, not a
    semantics change — the same batch sequence through the commit unit
    yields exactly the pure-DataFrame MERGE reference
    (``operators.joins.upsert_snapshot``) after every commit.
    ``n_buckets=1`` is the whole-snapshot-rewrite shape: every commit
    writes one ``__bucket=0`` dir."""
    import os

    from omics_data_integration_utilities_spark.operators.joins import (
        upsert_snapshot,
    )
    from omics_data_integration_utilities_spark.streaming.sinks import (
        read_bucketed_snapshot,
        upsert_batch_into_bucketed_snapshot,
    )

    batches = [
        spark.createDataFrame(
            [(k, float(100 * i + k)) for k in range(i, 40 + i)],
            "k long, v double",
        )
        for i in range(3)
    ]
    buck = str(tmp_path / "buck")
    ref = None
    for i, b in enumerate(batches):
        upsert_batch_into_bucketed_snapshot(
            spark, b, buck, ["k"], batch_id=i, n_buckets=n_buckets
        )
        ref = b if ref is None else upsert_snapshot(ref, b, ["k"])
        want = sorted((r["k"], r["v"]) for r in ref.collect())
        got = sorted(
            (r["k"], r["v"]) for r in read_bucketed_snapshot(spark, buck).collect()
        )
        assert got == want, i
        if n_buckets == 1:
            vdir = os.path.join(buck, f"v{i:012d}")
            assert [
                n for n in os.listdir(vdir) if n.startswith("__bucket=")
            ] == ["__bucket=0"]
    assert len(got) == 42


def test_bucketed_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """The layout claim itself: a batch touching one key writes a
    version dir containing ONLY that key's bucket; every untouched
    bucket still resolves to the older version dir by reference."""
    import json
    import os

    from omics_data_integration_utilities_spark.streaming.sinks import (
        read_bucketed_snapshot,
        upsert_batch_into_bucketed_snapshot,
    )

    snap = str(tmp_path / "snap_touch")
    base = spark.createDataFrame(
        [(k, float(k)) for k in range(64)], "k long, v double"
    )
    upsert_batch_into_bucketed_snapshot(
        spark, base, snap, ["k"], batch_id=0, n_buckets=16
    )
    one = spark.createDataFrame([(7, 777.0)], "k long, v double")
    upsert_batch_into_bucketed_snapshot(
        spark, one, snap, ["k"], batch_id=1, n_buckets=16
    )
    v1 = os.path.join(snap, "v000000000001")
    touched_dirs = [n for n in os.listdir(v1) if n.startswith("__bucket=")]
    assert len(touched_dirs) == 1
    with open(os.path.join(snap, "CURRENT")) as f:
        man_name = f.read().strip()
    man = json.load(open(os.path.join(snap, man_name)))
    pointing_v0 = [p for p in man["buckets"].values() if p.startswith("v000000000000/")]
    pointing_v1 = [p for p in man["buckets"].values() if p.startswith("v000000000001/")]
    assert len(pointing_v1) == 1 and len(pointing_v0) == len(man["buckets"]) - 1
    got = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snap).collect()}
    assert got[7] == 777.0 and len(got) == 64 and got[8] == 8.0


def test_bucketed_upsert_replay_damage_and_bucket_guards(spark, tmp_path):
    """The commit unit's crash-safety matrix plus the bucket-count
    pin: replayed committed batch no-ops; pre-flip crash
    leftovers rewrite cleanly; damaged pointer raises; a different
    n_buckets on a later commit is refused; object-store URI refused."""
    import os

    import pytest

    from omics_data_integration_utilities_spark.streaming.sinks import (
        read_bucketed_snapshot,
        upsert_batch_into_bucketed_snapshot,
    )

    snap = str(tmp_path / "snap_bmatrix")
    b1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    b2 = spark.createDataFrame([(2, 22.0), (3, 30.0)], "k long, v double")
    upsert_batch_into_bucketed_snapshot(spark, b1, snap, ["k"], batch_id=0, n_buckets=4)
    upsert_batch_into_bucketed_snapshot(spark, b2, snap, ["k"], batch_id=1, n_buckets=4)
    want = {1: 10.0, 2: 22.0, 3: 30.0}
    assert {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snap).collect()} == want

    # replay of committed batch 1: no-op
    upsert_batch_into_bucketed_snapshot(spark, b2, snap, ["k"], batch_id=1, n_buckets=4)
    assert {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snap).collect()} == want

    # pre-flip crash: CURRENT still names manifest 0, batch-1 artifacts
    # linger -> re-commit rewrites them from the still-current base
    with open(os.path.join(snap, "CURRENT"), "w") as f:
        f.write("m000000000000.json")
    upsert_batch_into_bucketed_snapshot(spark, b2, snap, ["k"], batch_id=1, n_buckets=4)
    assert {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snap).collect()} == want

    # bucket-count pin
    with pytest.raises(ValueError, match="n_buckets"):
        upsert_batch_into_bucketed_snapshot(
            spark, b2, snap, ["k"], batch_id=2, n_buckets=8
        )

    # damaged pointer
    os.remove(os.path.join(snap, "CURRENT"))
    with pytest.raises(RuntimeError, match="no CURRENT pointer"):
        upsert_batch_into_bucketed_snapshot(
            spark, b2, snap, ["k"], batch_id=7, n_buckets=4
        )

    # object-store URI refused before any write
    with pytest.raises(ValueError, match="driver-local"):
        upsert_batch_into_bucketed_snapshot(
            spark, b1, "s3a://bucket/snap", ["k"], batch_id=0, n_buckets=4
        )


def test_bucketed_upsert_retention_keeps_referenced_dirs(spark, tmp_path):
    """Retention prunes manifests past keep_versions but NEVER a version
    dir still referenced by a kept manifest — untouched buckets keep old
    version dirs alive by reference."""
    import json
    import os

    from omics_data_integration_utilities_spark.streaming.sinks import (
        read_bucketed_snapshot,
        upsert_batch_into_bucketed_snapshot,
    )

    snap = str(tmp_path / "snap_bkeep")
    base = spark.createDataFrame(
        [(k, float(k)) for k in range(64)], "k long, v double"
    )
    upsert_batch_into_bucketed_snapshot(
        spark, base, snap, ["k"], batch_id=0, n_buckets=16, keep_versions=2
    )
    # several single-key batches: each touches ~1 bucket
    for i in range(1, 5):
        b = spark.createDataFrame([(i, float(1000 + i))], "k long, v double")
        upsert_batch_into_bucketed_snapshot(
            spark, b, snap, ["k"], batch_id=i, n_buckets=16, keep_versions=2
        )
    manifests = [n for n in os.listdir(snap) if n.startswith("m") and n.endswith(".json")]
    assert len(manifests) == 2
    # v0 must still exist: most buckets are only stored there
    assert os.path.isdir(os.path.join(snap, "v000000000000"))
    got = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snap).collect()}
    assert len(got) == 64
    for i in range(1, 5):
        assert got[i] == 1000.0 + i
    assert got[0] == 0.0 and got[63] == 63.0


def test_cdc_apply_upsert_and_delete_both_layouts(spark, tmp_path):
    """r14 CDC apply: delete tombstones vanish, upserts replace/insert,
    untouched rows carry — identical final state in the one-bucket
    (whole-rewrite) shape, at 8 buckets and at the default bucket count,
    and a CDC batch with no deletes equals the plain upsert commit."""
    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.streaming.sinks import (
        apply_cdc_batch_into_bucketed_snapshot,
        read_bucketed_snapshot,
        upsert_batch_into_bucketed_snapshot,
    )

    seed = spark.createDataFrame(
        [(k, float(k)) for k in range(20)], "k long, v double"
    ).withColumn("op", F.lit("upsert"))
    cdc = spark.createDataFrame(
        [(3, 0.0, "delete"), (7, 0.0, "delete"), (5, 555.0, "upsert"),
         (99, 99.0, "upsert")],
        "k long, v double, op string",
    )
    ghost = spark.createDataFrame([(12345, 0.0, "delete")], "k long, v double, op string")
    up_only = spark.createDataFrame([(0, -1.0, "upsert")], "k long, v double, op string")
    read = lambda snap: {  # noqa: E731
        r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snap).collect()
    }
    # {}: the commit units' default bucket count
    for layout in ({"n_buckets": 1}, {"n_buckets": 8}, {}):
        tag = layout.get("n_buckets", "default")
        snap = str(tmp_path / f"cdc_{tag}")
        for i, b in enumerate([seed, cdc]):
            apply_cdc_batch_into_bucketed_snapshot(
                spark, b, snap, ["k"], batch_id=i, **layout
            )
        want = {k: float(k) for k in range(20) if k not in (3, 7)}
        want[5] = 555.0
        want[99] = 99.0
        assert read(snap) == want, tag
        # deleting an absent key is a no-op
        apply_cdc_batch_into_bucketed_snapshot(
            spark, ghost, snap, ["k"], batch_id=2, **layout
        )
        assert read(snap) == want, tag
        # upsert-only CDC == plain upsert commit
        plain, cdc_up = (
            str(tmp_path / f"plain_{tag}"),
            str(tmp_path / f"cdc_up_{tag}"),
        )
        for i, b in enumerate([seed, up_only]):
            upsert_batch_into_bucketed_snapshot(
                spark, b.drop("op"), plain, ["k"], batch_id=i, **layout
            )
            apply_cdc_batch_into_bucketed_snapshot(
                spark, b, cdc_up, ["k"], batch_id=i, **layout
            )
        want_up = {k: float(k) for k in range(20)}
        want_up[0] = -1.0
        assert read(cdc_up) == read(plain) == want_up, tag


def test_cdc_guards_conflicts_unknown_ops_and_replay(spark, tmp_path):
    """CDC contract guards: same-key upsert+delete in one batch refused
    (unordered micro-batch), unknown op refused, committed-batch replay
    no-ops, and a delete that EMPTIES a bucket drops it from the
    manifest instead of dangling."""
    import json
    import os

    import pytest

    from omics_data_integration_utilities_spark.streaming.sinks import (
        apply_cdc_batch_into_bucketed_snapshot,
        read_bucketed_snapshot,
    )

    snap = str(tmp_path / "cdc_guards")
    conflicted = spark.createDataFrame(
        [(1, 1.0, "upsert"), (1, 0.0, "delete")], "k long, v double, op string"
    )
    with pytest.raises(ValueError, match="BOTH an upsert and a delete"):
        apply_cdc_batch_into_bucketed_snapshot(
            spark, conflicted, snap, ["k"], batch_id=0, n_buckets=64
        )
    weird = spark.createDataFrame([(1, 1.0, "merge")], "k long, v double, op string")
    with pytest.raises(ValueError, match="unknown ops"):
        apply_cdc_batch_into_bucketed_snapshot(
            spark, weird, snap, ["k"], batch_id=0, n_buckets=64
        )

    b0 = spark.createDataFrame(
        [(1, 1.0, "upsert"), (2, 2.0, "upsert")], "k long, v double, op string"
    )
    b1 = spark.createDataFrame([(2, 0.0, "delete")], "k long, v double, op string")

    def current_manifest():
        with open(os.path.join(snap, "CURRENT")) as f:
            return json.load(open(os.path.join(snap, f.read().strip())))

    apply_cdc_batch_into_bucketed_snapshot(
        spark, b0, snap, ["k"], batch_id=0, n_buckets=64
    )
    assert len(current_manifest()["buckets"]) == 2  # keys 1, 2: distinct buckets
    # delete everything in key 2's bucket -> the manifest drops it
    apply_cdc_batch_into_bucketed_snapshot(
        spark, b1, snap, ["k"], batch_id=1, n_buckets=64
    )
    assert len(current_manifest()["buckets"]) == 1
    want = {1: 1.0}
    read = lambda: {  # noqa: E731
        r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snap).collect()
    }
    assert read() == want
    # replay of committed delete batch: no-op
    apply_cdc_batch_into_bucketed_snapshot(
        spark, b1, snap, ["k"], batch_id=1, n_buckets=64
    )
    assert read() == want


def test_snapshot_time_travel_reads(spark, tmp_path):
    """The reader accepts a retained previous manifest — the audit read
    over the keep_versions horizon; pruned or never-committed names
    raise instead of returning an empty relation."""
    import pytest

    from omics_data_integration_utilities_spark.streaming.sinks import (
        read_bucketed_snapshot,
        upsert_batch_into_bucketed_snapshot,
    )

    buck = str(tmp_path / "tt_buck")
    b0 = spark.createDataFrame([(1, 1.0)], "k long, v double")
    b1 = spark.createDataFrame([(1, 2.0)], "k long, v double")
    for i, b in enumerate([b0, b1]):
        upsert_batch_into_bucketed_snapshot(
            spark, b, buck, ["k"], batch_id=i, n_buckets=4
        )
    assert read_bucketed_snapshot(spark, buck).collect()[0]["v"] == 2.0
    assert (
        read_bucketed_snapshot(spark, buck, manifest="m000000000000.json")
        .collect()[0]["v"] == 1.0
    )
    # never committed / ahead of CURRENT: refused as uncommitted (r14
    # ADVICE — on-disk existence alone must not gate the read)
    with pytest.raises(FileNotFoundError, match="newer than the committed"):
        read_bucketed_snapshot(spark, buck, manifest="m000000000042.json")
    # a PRE-FLIP CRASH LEFTOVER (manifest and version dir on disk, never
    # flipped into CURRENT) must also refuse — it is not committed data
    # even though it exists
    with open(tmp_path / "tt_buck" / "m000000000000.json") as f:
        leftover = f.read()
    (tmp_path / "tt_buck" / "m000000000042.json").write_text(leftover)
    with pytest.raises(FileNotFoundError, match="newer than the committed"):
        read_bucketed_snapshot(spark, buck, manifest="m000000000042.json")
    # genuinely pruned (BELOW the committed horizon, manifest gone): the
    # retention message names keep_versions
    for i, v in ((43, 3.0), (44, 4.0)):
        upsert_batch_into_bucketed_snapshot(
            spark,
            spark.createDataFrame([(1, v)], "k long, v double"),
            buck,
            ["k"],
            batch_id=i,
            n_buckets=4,
        )
    with pytest.raises(FileNotFoundError, match="pruned past keep_versions"):
        read_bucketed_snapshot(spark, buck, manifest="m000000000000.json")


def test_cdc_delete_everything_edge(spark, tmp_path):
    """Tombstoning every key leaves a manifest that references zero
    bucket dirs, so no schema is left on disk: the reader raises a
    CLEAR empty-snapshot error instead of UNABLE_TO_INFER_SCHEMA.
    Re-seeding after the wipe works."""
    import pytest

    from omics_data_integration_utilities_spark.streaming.sinks import (
        apply_cdc_batch_into_bucketed_snapshot,
        read_bucketed_snapshot,
    )

    b0 = spark.createDataFrame([(1, 1.0, "upsert")], "k long, v double, op string")
    b1 = spark.createDataFrame([(1, 0.0, "delete")], "k long, v double, op string")
    b2 = spark.createDataFrame([(2, 2.0, "upsert")], "k long, v double, op string")
    buck = str(tmp_path / "wipe_buck")
    for i, b in enumerate([b0, b1]):
        apply_cdc_batch_into_bucketed_snapshot(
            spark, b, buck, ["k"], batch_id=i, n_buckets=4
        )
    with pytest.raises(FileNotFoundError, match="EMPTY"):
        read_bucketed_snapshot(spark, buck)
    # life after the wipe
    apply_cdc_batch_into_bucketed_snapshot(
        spark, b2, buck, ["k"], batch_id=2, n_buckets=4
    )
    assert {r["k"] for r in read_bucketed_snapshot(spark, buck).collect()} == {2}


def test_stale_batch_id_refused_on_existing_snapshot(spark, tmp_path):
    """Review regression (r14): a batch_id BELOW the committed one (a
    writer that restarted its numbering against an existing snapshot)
    must be refused loudly by both commit units — proceeding
    would overwrite a version dir kept manifests still reference and
    then prune the just-flipped name, destroying data."""
    import pytest

    from omics_data_integration_utilities_spark.streaming.sinks import (
        apply_cdc_batch_into_bucketed_snapshot,
        read_bucketed_snapshot,
        upsert_batch_into_bucketed_snapshot,
    )

    b = lambda k, v: spark.createDataFrame([(k, v)], "k long, v double")  # noqa: E731
    buck, cdc = str(tmp_path / "stale_buck"), str(tmp_path / "stale_cdc")
    for i in (3, 4, 5):
        upsert_batch_into_bucketed_snapshot(
            spark, b(i, float(i)), buck, ["k"], batch_id=i, n_buckets=4
        )
    with pytest.raises(RuntimeError, match="fresh\\s+checkpoint"):
        upsert_batch_into_bucketed_snapshot(
            spark, b(9, 9.0), buck, ["k"], batch_id=0, n_buckets=4
        )
    cdc_b = spark.createDataFrame([(1, 1.0, "upsert")], "k long, v double, op string")
    apply_cdc_batch_into_bucketed_snapshot(
        spark, cdc_b, cdc, ["k"], batch_id=7, n_buckets=4
    )
    with pytest.raises(RuntimeError, match="fresh\\s+checkpoint"):
        apply_cdc_batch_into_bucketed_snapshot(
            spark, cdc_b, cdc, ["k"], batch_id=2, n_buckets=4
        )
    # snapshots intact after the refusals; replay of the committed id
    # still no-ops
    assert {r["k"] for r in read_bucketed_snapshot(spark, buck).collect()} == {3, 4, 5}
    assert {r["k"] for r in read_bucketed_snapshot(spark, cdc).collect()} == {1}
    upsert_batch_into_bucketed_snapshot(
        spark, b(5, 5.0), buck, ["k"], batch_id=5, n_buckets=4
    )
    assert {r["k"] for r in read_bucketed_snapshot(spark, buck).collect()} == {3, 4, 5}


def _tree_bytes(root) -> dict:
    """Every file under ``root`` (relative path -> content)."""
    import os

    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _store_state(snap) -> tuple:
    """Everything a snapshot holds: an ``InMemoryObjectStore``'s objects
    with their generations and its data dir, or a posix dir's files."""
    from omics_data_integration_utilities_spark.streaming.commitstore import (
        InMemoryObjectStore,
    )

    if isinstance(snap, InMemoryObjectStore):
        return dict(snap._objects), _tree_bytes(snap.data_dir)
    return {}, _tree_bytes(snap)


@pytest.mark.parametrize("store_kind", ["posix", "object"])
def test_cdc_rejected_batch_writes_nothing(spark, tmp_path, store_kind):
    """After a committed batch, a CDC batch refused by the checks in the
    commit's write plan (unknown op, a NULL op, both ops on one key)
    raises ValueError naming the offending ops, drops the uncommitted
    ``v000000000001`` dir and leaves CURRENT, every manifest and every
    version dir byte-for-byte as they were, on a posix dir and on an
    object store.  Replaying the committed batch is a no-op that fires
    no Spark job at all."""
    from omics_data_integration_utilities_spark.streaming.commitstore import (
        InMemoryObjectStore,
        as_store,
    )
    from omics_data_integration_utilities_spark.streaming.sinks import (
        apply_cdc_batch_into_bucketed_snapshot,
        read_bucketed_snapshot,
    )

    schema = "k long, v double, op string"
    snap = str(tmp_path / "cdc_rejected")
    if store_kind == "object":
        snap = InMemoryObjectStore(snap)
    b0 = spark.createDataFrame(
        [(k, float(k), "upsert") for k in range(12)], schema
    )
    apply_cdc_batch_into_bucketed_snapshot(
        spark, b0, snap, ["k"], batch_id=0, n_buckets=4
    )
    before = _store_state(snap)
    names = set(as_store(snap).list_names())
    assert {"CURRENT", "m000000000000.json", "v000000000000"} <= names
    refused = [
        (r"unknown ops \['merge'\]", [(1, 0.0, "merge"), (2, 0.0, "delete")]),
        (r"unknown ops \[None\]", [(3, 0.0, None), (4, 4.5, "upsert")]),
        ("BOTH an upsert and a delete", [(5, 5.5, "upsert"), (5, 0.0, "delete")]),
    ]
    for msg, rows in refused:
        with pytest.raises(ValueError, match=msg):
            apply_cdc_batch_into_bucketed_snapshot(
                spark, spark.createDataFrame(rows, schema), snap, ["k"],
                batch_id=1, n_buckets=4,
            )
        assert not as_store(snap).exists_prefix("v000000000001"), msg
        assert _store_state(snap) == before, msg
    assert jobs_fired(
        spark,
        lambda: apply_cdc_batch_into_bucketed_snapshot(
            spark, b0, snap, ["k"], batch_id=0, n_buckets=4
        ),
    ) == 0
    assert _store_state(snap) == before
    assert {r["k"] for r in read_bucketed_snapshot(spark, snap).collect()} == set(
        range(12)
    )


def test_null_key_rows_are_never_replaced_or_deleted(spark, tmp_path):
    """NULL keys follow ``operators.joins.upsert_snapshot``: a NULL key
    equals nothing, so a snapshot row with a NULL key survives every
    later upsert and delete of a NULL key, and each such row stays its
    own row.  Within one batch, NULL-key upserts are duplicates of each
    other and collapse to one row, as ``dropDuplicates`` collapses
    them."""
    from omics_data_integration_utilities_spark.streaming.sinks import (
        apply_cdc_batch_into_bucketed_snapshot,
        read_bucketed_snapshot,
        upsert_batch_into_bucketed_snapshot,
    )

    snap = str(tmp_path / "null_keys")
    rows = lambda: sorted(  # noqa: E731
        (tuple(r) for r in read_bucketed_snapshot(spark, snap).collect()),
        key=lambda r: (r[0] is not None, r[0] or 0, r[1]),
    )
    upsert_batch_into_bucketed_snapshot(
        spark, spark.createDataFrame([(1, 1.0), (None, 10.0)], "k long, v double"),
        snap, ["k"], batch_id=0, n_buckets=4,
    )
    assert rows() == [(None, 10.0), (1, 1.0)]
    upsert_batch_into_bucketed_snapshot(
        spark,
        spark.createDataFrame(
            [(None, 20.0), (None, 30.0), (1, 1.5)], "k long, v double"
        ),
        snap, ["k"], batch_id=1, n_buckets=4,
    )
    got = rows()
    assert got[0] == (None, 10.0) and got[-1] == (1, 1.5), got
    assert len(got) == 3 and got[1] in ((None, 20.0), (None, 30.0)), got
    apply_cdc_batch_into_bucketed_snapshot(
        spark,
        spark.createDataFrame(
            [(None, 0.0, "delete"), (1, 0.0, "delete")],
            "k long, v double, op string",
        ),
        snap, ["k"], batch_id=2, n_buckets=4,
    )
    assert rows() == got[:2]


# Jobs one CDC commit (2 deletes, 1 replace, 1 insert) fires into an
# existing 4-bucket snapshot under the test session's settings: 3 with
# the touched buckets from an Observation and the checks in the merge
# plan (9 with a summary aggregate, 15 with separate validation and
# touched-bucket collects).  The seed commit skips the Observation.
_CDC_COMMIT_JOBS = 3
_SEED_COMMIT_JOBS = 2


def test_snapshot_commit_and_read_job_budget(spark, tmp_path):
    """The fixed job cost of a snapshot commit and read stays pinned:
    a read of a manifest that pins ``value_schema`` fires no job before
    an action (no footer schema inference), a seed commit fires at most
    ``_SEED_COMMIT_JOBS`` and one CDC commit into an existing 4-bucket
    snapshot at most ``_CDC_COMMIT_JOBS``."""
    from omics_data_integration_utilities_spark.streaming.sinks import (
        apply_cdc_batch_into_bucketed_snapshot,
        read_bucketed_snapshot,
    )

    schema = "k long, v double, op string"
    snap = str(tmp_path / "budget")
    seed = spark.createDataFrame(
        [(k, float(k), "upsert") for k in range(40)], schema
    )
    seed_jobs = jobs_fired(
        spark,
        lambda: apply_cdc_batch_into_bucketed_snapshot(
            spark, seed, snap, ["k"], batch_id=0, n_buckets=4
        ),
    )
    assert 0 < seed_jobs <= _SEED_COMMIT_JOBS, seed_jobs
    for manifest in (None, "m000000000000.json"):
        assert jobs_fired(
            spark, lambda: read_bucketed_snapshot(spark, snap, manifest=manifest)
        ) == 0
    cdc = spark.createDataFrame(
        [(3, 0.0, "delete"), (7, 0.0, "delete"), (5, 55.0, "upsert"),
         (99, 99.0, "upsert")],
        schema,
    )
    jobs = jobs_fired(
        spark,
        lambda: apply_cdc_batch_into_bucketed_snapshot(
            spark, cdc, snap, ["k"], batch_id=1, n_buckets=4
        ),
    )
    assert 0 < jobs <= _CDC_COMMIT_JOBS, jobs
    want = {k: float(k) for k in range(40) if k not in (3, 7)}
    want.update({5: 55.0, 99: 99.0})
    got = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snap).collect()}
    assert got == want


def test_snapshot_queries_job_budget(spark):
    """The registered queries that commit snapshots inside their
    builders fire no more jobs than measured for a commit of one
    Observation job (skipped by a seed commit) and one merge write:
    warm build / build + ``noop`` write at sf0.001.  The summary
    aggregate and anti-join commit fired 13/15, 11/15, 20/22 and 20/22
    (SCALE.md "snapshot MERGE in one exchange" has the counts by call
    site)."""
    import __spark_entry__

    queries = __spark_entry__.queries()
    budgets = {
        "doc_forget": (5, 7),
        "doc_snapshot_timetravel": (5, 9),
        "doc_snapshot_rebucket": (11, 13),
        "doc_snapshot_evolve": (11, 13),
    }
    fired = {}
    for name in budgets:
        build = queries[name]

        def run(build=build):
            build(spark, SF_SMOKE).write.format("noop").mode("overwrite").save()

        run()
        fired[name] = (
            jobs_fired(spark, lambda: build(spark, SF_SMOKE)),
            jobs_fired(spark, run),
        )
    assert all(
        fired[n][0] <= budgets[n][0] and fired[n][1] <= budgets[n][1]
        for n in budgets
    ), fired


def test_pinned_schema_read_roundtrips_ddl(spark, tmp_path):
    """The pinned-schema read builds a DDL from the manifest's
    ``value_schema``; for decimal, timestamp_ntz, array, struct and a
    column name that needs backtick quoting it must give exactly the
    schema and rows that footer inference gives."""
    import datetime
    import decimal
    import json
    import os

    from omics_data_integration_utilities_spark.streaming.sinks import (
        read_bucketed_snapshot,
        upsert_batch_into_bucketed_snapshot,
    )

    schema = (
        "k long, `amount (usd)` decimal(18,4), `odd``name` string, "
        "ts timestamp_ntz, tags array<string>, meta struct<a:int,b:string>"
    )
    rows = [
        (k, decimal.Decimal(f"{k}.1234"), f"n{k}",
         datetime.datetime(2024, 1, 1 + k, 12, 30), [f"t{k}", "x"],
         (k, f"b{k}"))
        for k in range(6)
    ] + [(6, None, None, None, None, None)]
    snap = str(tmp_path / "ddl")
    upsert_batch_into_bucketed_snapshot(
        spark, spark.createDataFrame(rows, schema), snap, ["k"],
        batch_id=0, n_buckets=2,
    )
    with open(os.path.join(snap, "m000000000000.json")) as f:
        man = json.load(f)
    assert "amount (usd)" in man["value_schema"]
    pinned = read_bucketed_snapshot(spark, snap)
    inferred = spark.read.parquet(
        *[os.path.join(snap, p) for p in sorted(set(man["buckets"].values()))]
    )
    assert pinned.schema == inferred.schema
    by_key = lambda df: sorted(df.collect(), key=lambda r: r["k"])  # noqa: E731
    assert by_key(pinned) == by_key(inferred)
    assert len(by_key(pinned)) == 7
    # a nested field name that needs quoting: the pin's simpleString
    # does not quote it, the DDL does not parse, and the read falls back
    # to inference instead of failing
    nested = str(tmp_path / "ddl_nested")
    upsert_batch_into_bucketed_snapshot(
        spark,
        spark.createDataFrame([(1, (2,))], "k long, meta struct<`x y`:int>"),
        nested, ["k"], batch_id=0, n_buckets=2,
    )
    back = read_bucketed_snapshot(spark, nested)
    assert back.schema.simpleString() == "struct<k:bigint,meta:struct<x y:int>>"
    assert [tuple(r) for r in back.collect()] == [(1, (2,))]
