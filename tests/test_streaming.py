"""Structured Streaming smoke: the windowed events aggregation must
process the full parquet batch through a memory sink and agree with the
batch-form tumbling aggregation on totals."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from omics_data_integration_utilities_spark.streaming.events import (
    tumbling_event_agg,
    windowed_event_counts_stream,
)
from .conftest import SF_SMOKE


def test_stream_matches_batch_totals(spark, tmp_path):
    path = f"{SF_SMOKE}/events.parquet"
    stream_df = windowed_event_counts_stream(spark, path, window="1 hour")
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "SELECT sum(n) AS total, count(*) AS groups FROM stream_out"
        ).collect()[0]
    finally:
        q.stop()

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = spark.read.parquet(path)
    batch = tumbling_event_agg(events, 3600)
    expect_total = events.count()
    expect_groups = batch.count()
    assert got["total"] == expect_total
    assert got["groups"] == expect_groups


def test_session_windows_stream_matches_batch(spark, tmp_path):
    """The session_window expression under readStream (complete mode)
    produces the same sessions as the batch form."""
    import os
    import tempfile

    from omics_data_integration_utilities_spark.streaming.events import (
        session_window_agg,
    )

    path = f"{SF_SMOKE}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    staged = tempfile.mkdtemp(prefix="omics_sessions_")
    os.symlink(path, os.path.join(staged, "events.parquet"))
    stream = spark.readStream.schema(schema).parquet(staged)
    sess = session_window_agg(stream, gap_seconds=21600)
    q = (
        sess.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sessions_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_sessions"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            tuple(r) for r in spark.sql("SELECT * FROM sessions_out").collect()
        )
    finally:
        q.stop()
    batch = sorted(
        tuple(r)
        for r in session_window_agg(spark.read.parquet(path), 21600).collect()
    )
    assert got == batch
    assert len(got) > 0


def test_hopping_windows_stream_matches_batch(spark, tmp_path):
    """The sliding-window expression under readStream (complete mode)
    produces the same hopping buckets as the batch form — every event in
    window/slide overlapping windows, identical counts and DECIMAL-exact
    value sums."""
    import os
    import tempfile

    from omics_data_integration_utilities_spark.streaming.events import (
        hopping_window_agg,
    )

    path = f"{SF_SMOKE}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    staged = tempfile.mkdtemp(prefix="omics_hopping_")
    os.symlink(path, os.path.join(staged, "events.parquet"))
    stream = spark.readStream.schema(schema).parquet(staged)
    hop = hopping_window_agg(stream, window_seconds=3600, slide_seconds=900)
    q = (
        hop.writeStream.outputMode("complete")
        .format("memory")
        .queryName("hopping_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_hopping"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            tuple(r) for r in spark.sql("SELECT * FROM hopping_out").collect()
        )
    finally:
        q.stop()
    batch = sorted(
        tuple(r)
        for r in hopping_window_agg(
            spark.read.parquet(path), 3600, 900
        ).collect()
    )
    assert got == batch
    assert len(got) > 0
    # each 1h window overlaps 4 hops: bucket count ~4x the event-time span
    n_events = spark.read.parquet(path).count()
    assert sum(r[3] for r in got) == 4 * n_events


def test_dedup_stream_matches_batch_distinct_hashes(spark, tmp_path):
    """Streaming exact dedup keeps exactly the batch-distinct content
    hash-set (representative ids are arrival-order-dependent; the
    hash-set is the invariant)."""
    from omics_data_integration_utilities_spark.streaming.dedup import (
        dedup_doc_stream,
    )

    path = f"{SF_SMOKE}/documents.parquet"
    stream_df = dedup_doc_stream(spark, path)
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT content_hash FROM dedup_out").collect()
    finally:
        q.stop()
    kept = [r["content_hash"] for r in got]
    expect = {
        r["h"]
        for r in spark.read.parquet(path)
        .select(F.md5(F.col("text")).alias("h"))
        .distinct()
        .collect()
    }
    assert len(kept) == len(expect)      # no duplicate survived
    assert set(kept) == expect


def test_dedup_stream_watermarked_form_runs_and_dedups(spark, tmp_path):
    """The bounded-state dropDuplicatesWithinWatermark variant suppresses
    duplicates arriving inside the horizon (all of them, here: one file
    = one batch, synthetic event times span well under the watermark)."""
    from omics_data_integration_utilities_spark.streaming.dedup import (
        dedup_doc_stream,
    )

    path = f"{SF_SMOKE}/documents.parquet"
    stream_df = dedup_doc_stream(
        spark, path, with_watermark=True, watermark="24 hours"
    )
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_wm_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup_wm"))
        .start()
    )
    try:
        q.processAllAvailable()
        kept = [r["content_hash"] for r in spark.sql(
            "SELECT content_hash FROM dedup_wm_out").collect()]
    finally:
        q.stop()
    n_distinct = (
        spark.read.parquet(path).select(F.md5(F.col("text"))).distinct().count()
    )
    assert len(kept) == len(set(kept)) == n_distinct


def test_neardup_stream_matches_batch_lsh_candidates(spark, tmp_path):
    """Streaming banded-minhash near-dup: with the whole corpus in one
    micro-batch, the distinct emitted pair set equals the batch
    lsh_candidate_pairs under the same posting cap."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        lsh_candidate_pairs,
    )
    from omics_data_integration_utilities_spark.streaming.neardup import (
        lsh_neardup_pairs_stream,
    )

    path = f"{SF_SMOKE}/documents.parquet"
    stream_df = lsh_neardup_pairs_stream(spark, path)
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName("neardup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_neardup"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["id_a"], r["id_b"])
            for r in spark.sql("SELECT DISTINCT id_a, id_b FROM neardup_out").collect()
        }
    finally:
        q.stop()
    expect = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(
            spark.read.parquet(path), "text", "doc_id"
        ).collect()
    }
    assert got == expect
    assert len(got) > 0


def test_neardup_stream_watermarked_form_runs(spark, tmp_path):
    """The EventTimeTimeout variant emits the same pairs when every doc
    arrives inside the horizon (state bounded by the TTL)."""
    from omics_data_integration_utilities_spark.streaming.neardup import (
        lsh_neardup_pairs_stream,
    )

    path = f"{SF_SMOKE}/documents.parquet"
    stream_df = lsh_neardup_pairs_stream(
        spark, path, watermark="24 hours", state_ttl_ms=48 * 3600 * 1000
    )
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName("neardup_wm_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_neardup_wm"))
        .start()
    )
    try:
        q.processAllAvailable()
        n = spark.sql("SELECT count(DISTINCT id_a, id_b) AS n FROM neardup_wm_out").collect()[0]["n"]
    finally:
        q.stop()
    assert n > 0


def test_neardup_stream_multibatch_matches_batch_lsh(spark, tmp_path):
    """TRUE incremental arrival: the corpus lands as three parquet files
    processed one per micro-batch (maxFilesPerTrigger=1).  The distinct
    pair set across all batches must equal batch lsh_candidate_pairs on
    the union — cross-batch pairs require bucket state to survive
    between micro-batches, which the single-batch test cannot show."""
    import os

    from omics_data_integration_utilities_spark.operators.dedup import (
        lsh_candidate_pairs,
    )
    from omics_data_integration_utilities_spark.streaming.neardup import (
        lsh_neardup_pairs_stream,
    )

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    corpus = str(tmp_path / "corpus")
    # thirds by doc_id so duplicates of one text can land in DIFFERENT
    # batches; one file each, staggered mtimes fix the arrival order
    for i in range(3):
        docs.where(F.col("doc_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(corpus)
    parts = sorted(
        f for f in os.listdir(corpus) if f.endswith(".parquet")
    )
    assert len(parts) == 3
    for i, f in enumerate(parts):
        os.utime(os.path.join(corpus, f), (1_700_000_000 + i, 1_700_000_000 + i))

    stream_df = lsh_neardup_pairs_stream(spark, corpus, max_files_per_trigger=1)
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName("neardup_mb_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_neardup_mb"))
        .start()
    )
    try:
        q.processAllAvailable()
        batches = [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]
        got = {
            (r["id_a"], r["id_b"])
            for r in spark.sql(
                "SELECT DISTINCT id_a, id_b FROM neardup_mb_out"
            ).collect()
        }
    finally:
        q.stop()
    assert len(batches) >= 3, f"expected >=3 non-empty micro-batches, got {batches}"
    expect = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(spark.read.parquet(corpus), "text", "doc_id").collect()
    }
    assert got == expect
    assert len(got) > 0


def test_neardup_stream_eviction_bounds_state(spark, tmp_path):
    """EventTimeTimeout eviction: a second wave of documents far past the
    TTL horizon advances the watermark and DROPS the first wave's bucket
    state — the memory bound that makes the stream viable at scale.
    Observed via the state-operator numRowsRemoved metric."""
    import os

    from omics_data_integration_utilities_spark.streaming.neardup import (
        lsh_neardup_pairs_stream,
    )

    def texts(wave: int) -> list[str]:
        # per-WAVE distinct texts: shared texts would land every wave in
        # the same (band, band_key) buckets and refresh their timeouts —
        # eviction only happens for buckets no later wave touches
        return [
            f"wave {wave} the quick brown fox jumps over the lazy dog {wave}",
            f"wave {wave} an entirely different document about structured streaming {wave}",
            f"wave {wave} a third text that shares no shingles with the others {wave}",
        ]

    # wave 1: ids 0..5; wave 2: ids 5_000_000.. (event time ~58 days
    # later, far past the 1h TTL); wave 3 advances the watermark so the
    # timeout pass actually runs
    waves = [
        [(i, texts(0)[i % 3]) for i in range(6)],
        [(5_000_000 + i, texts(1)[i % 3]) for i in range(6)],
        [(5_200_000 + i, texts(2)[i % 3]) for i in range(6)],
    ]
    corpus = str(tmp_path / "corpus_evict")
    # stagger mtimes by WAVE (snapshot the dir between writes — parquet
    # part names are random, so name order does not track write order):
    # the file source processes files oldest-first, so event time then
    # advances monotonically across micro-batches
    seen: set = set()
    for i, wave in enumerate(waves):
        spark.createDataFrame(wave, "doc_id long, text string").coalesce(1).write.mode(
            "append"
        ).parquet(corpus)
        new = {f for f in os.listdir(corpus) if f.endswith(".parquet")} - seen
        assert len(new) == 1
        for f in new:
            os.utime(os.path.join(corpus, f), (1_700_000_000 + i, 1_700_000_000 + i))
        seen |= new

    stream_df = lsh_neardup_pairs_stream(
        spark,
        corpus,
        watermark="10 minutes",
        state_ttl_ms=3600 * 1000,
        max_files_per_trigger=1,
    )
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName("neardup_evict_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_neardup_evict"))
        .start()
    )
    try:
        q.processAllAvailable()
        removed = sum(
            so["numRowsRemoved"]
            for p in q.recentProgress
            for so in p.get("stateOperators", [])
        )
        final_total = (q.recentProgress[-1]["stateOperators"] or [{}])[-1].get(
            "numRowsTotal", -1
        )
        pairs = spark.sql(
            "SELECT DISTINCT id_a, id_b FROM neardup_evict_out"
        ).collect()
    finally:
        q.stop()
    # each wave has 2 duplicates per text -> pairs emitted in every wave
    assert len(pairs) > 0
    assert removed > 0, "EventTimeTimeout never evicted any bucket state"
    # final state holds at most the last waves' buckets, not all three
    assert 0 <= final_total < removed + final_total


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


def test_interval_join_stream_matches_batch(spark, tmp_path):
    """Stream-stream interval join == batch interval join on the same
    inputs: click events joined to purchase events of the same user
    within [0, 2h) after the click.  Watermarks on both sides bound the
    join state; append mode emits exactly the batch pair set."""
    from omics_data_integration_utilities_spark.streaming.joins import (
        interval_join,
        interval_join_stream,
    )

    path = f"{SF_SMOKE}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(path)
    left = ev.where(F.col("event_type") == "click")
    right = ev.where(F.col("event_type") == "purchase")
    lp, rp = str(tmp_path / "left"), str(tmp_path / "right")
    left.write.parquet(lp)
    right.write.parquet(rp)

    batch = interval_join(
        spark.read.parquet(lp), spark.read.parquet(rp),
        lower_seconds=0, upper_seconds=7200,
    )
    expect = sorted(tuple(r) for r in batch.collect())
    assert expect, "fixture produced no joined pairs; test would be vacuous"

    stream_df = interval_join_stream(
        spark, lp, rp, lower_seconds=0, upper_seconds=7200, watermark="10 days"
    )
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName("ij_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(tuple(r) for r in spark.sql("SELECT * FROM ij_out").collect())
    finally:
        q.stop()
    assert got == expect


def test_interval_join_stream_multi_batch_and_state_cleanup(spark, tmp_path):
    """Incremental arrival (one file per micro-batch on each side) still
    produces the full batch pair set, and the join's watermark horizon
    evicts state (numRowsRemoved > 0 once the watermark passes)."""
    from omics_data_integration_utilities_spark.streaming.joins import (
        interval_join,
        interval_join_stream,
    )

    path = f"{SF_SMOKE}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(path)
    left = ev.where(F.col("event_type") == "click")
    right = ev.where(F.col("event_type").isin("purchase", "view"))
    lp, rp = str(tmp_path / "left"), str(tmp_path / "right")
    # two files per side → two-plus micro-batches under maxFilesPerTrigger=1
    left.where(F.col("user_id") % 2 == 0).coalesce(1).write.parquet(lp)
    left.where(F.col("user_id") % 2 == 1).coalesce(1).write.mode("append").parquet(lp)
    right.where(F.col("user_id") % 2 == 0).coalesce(1).write.parquet(rp)
    right.where(F.col("user_id") % 2 == 1).coalesce(1).write.mode("append").parquet(rp)

    batch = interval_join(
        spark.read.parquet(lp), spark.read.parquet(rp),
        lower_seconds=0, upper_seconds=3600,
    )
    expect = sorted(tuple(r) for r in batch.collect())
    assert expect

    stream_df = interval_join_stream(
        spark, lp, rp, lower_seconds=0, upper_seconds=3600,
        watermark="30 minutes", max_files_per_trigger=1,
    )
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName("ij_mb_out")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(tuple(r) for r in spark.sql("SELECT * FROM ij_mb_out").collect())
        removed = sum(
            (p.stateOperators[0].numRowsRemoved if p.stateOperators else 0)
            for p in q.recentProgress
        )
    finally:
        q.stop()
    # the interval + 30-min watermark horizon is narrower than the feed's
    # time span, so eviction must have happened — state stays bounded
    assert removed > 0
    assert got == expect


def test_interval_join_stream_left_outer_matches_batch(spark, tmp_path):
    """LEFT-OUTER stream-stream interval join == batch left-outer join:
    unmatched clicks emit with null right columns only once the
    watermark proves no purchase can still arrive, so the right feed
    carries a far-future sentinel (user_id -1, matching nothing) that
    pushes the watermark past every pending left row.  The batch side
    joins the identical augmented inputs — the sentinel never matches,
    so it changes nothing there — making the comparison exact."""
    import datetime

    from omics_data_integration_utilities_spark.streaming.joins import (
        interval_join,
        interval_join_stream,
    )

    path = f"{SF_SMOKE}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(path)
    left = ev.where(F.col("event_type") == "click")
    right = ev.where(F.col("event_type") == "purchase")
    lp, rp = str(tmp_path / "left"), str(tmp_path / "right")
    left.write.parquet(lp)
    right.coalesce(1).write.parquet(rp)
    # sentinel: one purchase 400 days after the feed's max event time,
    # on a user id that exists nowhere in the left feed
    from omics_data_integration_utilities_spark.streaming.events import _event_time
    max_ts = ev.agg(F.max(_event_time(ev))).collect()[0][0]
    far = max_ts + datetime.timedelta(days=400)
    # the global watermark is the MIN over both sides' watermarks, so
    # BOTH feeds need a sentinel or the slower side holds everything back
    schema = "user_id long, ts timestamp_ntz, event_type string, value double"
    spark.createDataFrame([(-1, far, "purchase", 0.0)], schema) \
        .coalesce(1).write.mode("append").parquet(rp)
    spark.createDataFrame([(-2, far, "click", 0.0)], schema) \
        .coalesce(1).write.mode("append").parquet(lp)

    batch = interval_join(
        spark.read.parquet(lp), spark.read.parquet(rp),
        lower_seconds=0, upper_seconds=7200, how="left_outer",
    )
    # sentinels excluded on both sides: the left sentinel's own null row
    # can never emit in the stream (nothing later advances the watermark
    # past it) and is not part of the data under test
    expect = sorted(tuple(r) for r in batch.where(F.col("user_id") >= 0).collect())
    n_null = sum(1 for r in expect if r[2] is None)
    assert n_null > 0, "no unmatched clicks; outer parity would be vacuous"

    stream_df = interval_join_stream(
        spark, lp, rp, lower_seconds=0, upper_seconds=7200,
        watermark="1 minute", how="left_outer",
    )
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName("ij_outer_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_outer"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            tuple(r)
            for r in spark.sql("SELECT * FROM ij_outer_out WHERE user_id >= 0").collect()
        )
    finally:
        q.stop()
    assert got == expect


def test_interval_join_stream_left_outer_evicts_state(spark, tmp_path):
    """Outer-join state is bounded exactly like the inner form: with a
    watermark horizon narrower than the feed's span, Spark must remove
    buffered rows (numRowsRemoved > 0) while still emitting every
    matched pair and every watermark-resolved null row."""
    from omics_data_integration_utilities_spark.streaming.joins import (
        interval_join_stream,
    )

    path = f"{SF_SMOKE}/events.parquet"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(path)
    left = ev.where(F.col("event_type") == "click")
    right = ev.where(F.col("event_type") == "purchase")
    lp, rp = str(tmp_path / "left"), str(tmp_path / "right")
    # two files per side so the watermark advances between micro-batches
    left.where(F.col("user_id") % 2 == 0).coalesce(1).write.parquet(lp)
    left.where(F.col("user_id") % 2 == 1).coalesce(1).write.mode("append").parquet(lp)
    right.where(F.col("user_id") % 2 == 0).coalesce(1).write.parquet(rp)
    right.where(F.col("user_id") % 2 == 1).coalesce(1).write.mode("append").parquet(rp)

    stream_df = interval_join_stream(
        spark, lp, rp, lower_seconds=0, upper_seconds=3600,
        watermark="30 minutes", max_files_per_trigger=1, how="left_outer",
    )
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName("ij_outer_evict")
        .option("checkpointLocation", str(tmp_path / "ckpt_oev"))
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT * FROM ij_outer_evict").collect()
        removed = sum(
            (p.stateOperators[0].numRowsRemoved if p.stateOperators else 0)
            for p in q.recentProgress
        )
    finally:
        q.stop()
    assert removed > 0
    # watermark-resolved null rows did emit (the horizon passed old
    # unmatched clicks), alongside matched pairs
    assert any(r["right_time"] is None for r in out)
    assert any(r["right_time"] is not None for r in out)


def test_jsonl_stream_curation_matches_batch(spark, tmp_path):
    """Streaming JSONL ingest (r9 read_jsonl_stream) through a stateless
    curation projection (token counts + Gopher keep verdict) must equal
    the batch path over the same shard files, corrupt lines landing in
    the quarantine column on both."""
    from omics_data_integration_utilities_spark.operators.text import gopher_quality_rules
    from omics_data_integration_utilities_spark.sources.readers import (
        read_jsonl,
        read_jsonl_stream,
    )

    src = tmp_path / "shards"
    src.mkdir()
    lines0 = [
        '{"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog again"}',
        '{"doc_id": 2, "text": "%%% $$$ ###"}',
        "{not json at all",
    ]
    lines1 = [
        '{"doc_id": 3, "text": "a reasonable document with several plain words in it"}',
        '{"doc_id": 4, "text": "x"}',
    ]
    (src / "part-0.jsonl").write_text("\n".join(lines0) + "\n")
    (src / "part-1.jsonl").write_text("\n".join(lines1) + "\n")

    schema = "doc_id long, text string"

    def curate(df):
        kept = gopher_quality_rules(
            df.where(F.col("text").isNotNull()), "text", "doc_id"
        )
        return kept.select("doc_id", "n_tokens", "keep")

    stream = curate(read_jsonl_stream(spark, str(src), schema, max_files_per_trigger=1))
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("jsonl_curated")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            map(tuple, spark.sql("SELECT * FROM jsonl_curated").collect())
        )
    finally:
        q.stop()

    batch = sorted(map(tuple, curate(read_jsonl(spark, str(src), schema)).collect()))
    assert got == batch
    assert len(got) == 4  # the corrupt line is quarantined, not curated

    # Spark disallows referencing ONLY _corrupt_record on a raw JSON
    # scan — collect full rows and filter in Python (same sidestep as
    # the batch roundtrip test)
    corrupt_rows = [
        r
        for r in read_jsonl(spark, str(src), schema).collect()
        if r["_corrupt_record"] is not None
    ]
    assert len(corrupt_rows) == 1


def test_incremental_dedup_stream_matches_batch(spark, tmp_path):
    """Stream-static incremental dedup: the streaming verdicts equal the
    batch wide form on the same feed, and the wide form is exactly the
    first-two-stages projection of incremental_dedup_verdicts
    (exact_ref/near_ref agree; every in-batch or novel verdict maps to
    wide 'novel')."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        incremental_dedup_verdicts,
        ref_dedup_verdicts_wide,
    )
    from omics_data_integration_utilities_spark.streaming.dedup import (
        incremental_dedup_verdicts_stream,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    ref = spark.createDataFrame(
        [(1, base), (2, "echo foxtrot echo foxtrot echo")],
        "doc_id long, text string",
    )
    batch_rows = [
        (10, base),                                         # exact_ref
        (11, "echo foxtrot echo foxtrot echo foxtrot echo"),  # near_ref
        (12, "one two three four five six seven"),          # in-batch pair:
        (13, "one two three four five six seven"),          #   wide = novel
        (16, "totally disjoint vocabulary nothing shared anywhere"),
    ]
    feed = spark.createDataFrame(batch_rows, "doc_id long, text string")
    feed_path = str(tmp_path / "feed.parquet")
    feed.coalesce(1).write.parquet(feed_path)

    wide = {
        r["doc_id"]: r["verdict"]
        for r in ref_dedup_verdicts_wide(feed, ref, "text", "doc_id").collect()
    }
    full = {
        r["doc_id"]: r["verdict"]
        for r in incremental_dedup_verdicts(feed, ref, "text", "doc_id").collect()
    }
    assert set(wide) == set(full)
    for i, v in full.items():
        assert wide[i] == (v if v in ("exact_ref", "near_ref") else "novel"), (i, v)

    stream_df = incremental_dedup_verdicts_stream(
        spark, feed_path, ref, max_files_per_trigger=1
    )
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName("incr_dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_incr"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["doc_id"]: r["verdict"]
            for r in spark.sql("SELECT * FROM incr_dedup_out").collect()
        }
    finally:
        q.stop()
    assert got == wide

def test_incremental_dedup_stream_probes_persisted_index(spark, tmp_path):
    """The index= form of the stream query: per-trigger probes against
    the persisted bucketed tables (no ref_df, no per-micro-batch corpus
    re-scan) must produce the same verdicts as the ref_df form."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        build_dedup_index,
        ref_dedup_verdicts_wide,
    )
    from omics_data_integration_utilities_spark.streaming.dedup import (
        incremental_dedup_verdicts_stream,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    ref = spark.createDataFrame(
        [(1, base), (2, "echo foxtrot echo foxtrot echo")],
        "doc_id long, text string",
    )
    feed = spark.createDataFrame(
        [
            (10, base),
            (11, "echo foxtrot echo foxtrot echo foxtrot echo"),
            (16, "totally disjoint vocabulary nothing shared anywhere"),
            (17, "so"),
        ],
        "doc_id long, text string",
    )
    feed_path = str(tmp_path / "feed.parquet")
    feed.coalesce(1).write.parquet(feed_path)
    idx = build_dedup_index(ref, "text", "doc_id", "idx_stream", str(tmp_path))
    want = {
        r["doc_id"]: r["verdict"]
        for r in ref_dedup_verdicts_wide(feed, ref, "text", "doc_id").collect()
    }
    stream_df = incremental_dedup_verdicts_stream(
        spark, feed_path, None, max_files_per_trigger=1, index=idx
    )
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName("incr_dedup_idx_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_incr_idx"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["doc_id"]: r["verdict"]
            for r in spark.sql("SELECT * FROM incr_dedup_idx_out").collect()
        }
    finally:
        q.stop()
    assert got == want == {10: "exact_ref", 11: "near_ref", 16: "novel", 17: "novel"}


def test_windowed_funnel_stream_matches_batch(spark, tmp_path):
    """Per-window funnel under readStream equals the batch twin on the
    same input: every (window, stage) row's survivor accounting matches,
    and per window the cumulative counts are monotone non-increasing."""
    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.streaming.funnel import (
        windowed_funnel_batch,
        windowed_funnel_stream,
    )

    path = f"{SF_SMOKE}/events.parquet"
    stages = [
        ("nonzero", F.col("value") > 0.1),
        ("mid", F.col("value") > 5.0),
        ("clicky", F.col("event_type").isin("click", "view")),
    ]
    stream_df = windowed_funnel_stream(spark, path, stages, window="1 hour")
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName("funnel_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["win_start"], r["stage"]): (r["n_in"], r["n_surviving"], r["n_dropped"])
            for r in spark.sql("SELECT * FROM funnel_out").collect()
        }
    finally:
        q.stop()

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = spark.read.parquet(path)
    batch = windowed_funnel_batch(events, stages, 3600)
    # map the integer epoch bucket back to the window start for the compare
    import datetime as dt

    want = {}
    for r in batch.collect():
        start = dt.datetime.fromtimestamp(r["bucket"] * 3600, tz=dt.timezone.utc).replace(tzinfo=None)
        want[(start, r["stage"])] = (r["n_in"], r["n_surviving"], r["n_dropped"])
    assert got == want and len(want) > 0
    # monotonicity: stage k's n_in equals stage k-1's n_surviving
    by_win: dict = {}
    for (start, stage), (n_in, n_sur, _drop) in want.items():
        by_win.setdefault(start, {})[stage] = (n_in, n_sur)
    for start, d in by_win.items():
        assert d["mid"][0] == d["nonzero"][1]
        assert d["clicky"][0] == d["mid"][1]


def test_curate_doc_stream_matches_batch_gate_and_dedup(spark, tmp_path):
    """The streaming curation pipeline (quality gate -> exact dedup on
    arrival) keeps exactly the batch equivalent's content-hash set, and
    every kept row individually clears the gate."""
    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.operators.text import quality_expr
    from omics_data_integration_utilities_spark.streaming.pipeline import (
        curate_doc_stream,
    )

    path = f"{SF_SMOKE}/documents.parquet"
    stream_df = curate_doc_stream(spark, path, min_quality=0.5)
    q = (
        stream_df.writeStream.outputMode("append")
        .format("memory")
        .queryName("curate_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        kept = spark.sql("SELECT * FROM curate_out").collect()
    finally:
        q.stop()

    docs = spark.read.parquet(path)
    batch_hashes = {
        r["h"]
        for r in docs.where(F.round(quality_expr("text"), 6) >= 0.5)
        .select(F.md5("text").alias("h"))
        .distinct()
        .collect()
    }
    assert {r["content_hash"] for r in kept} == batch_hashes
    assert len(kept) == len(batch_hashes)  # one representative per hash
    assert all(r["quality"] >= 0.5 for r in kept)
    assert 0 < len(kept) < docs.count()  # the gate and the dedup both bit

    # batch-twin report parity: the __all__ row's kept-hash cardinality
    # IS the stream's kept-state size, and the per-source rows account
    # for every input doc (registered as pipeline_curate)
    from omics_data_integration_utilities_spark.streaming.pipeline import (
        curate_doc_batch_counts,
    )

    report = {
        r["source"]: (r["n_in"], r["n_gated"], r["n_kept_hashes"])
        for r in curate_doc_batch_counts(docs).collect()
    }
    assert report["__all__"][2] == len(kept)
    assert report["__all__"][0] == docs.count()
    per_source = {k: v for k, v in report.items() if k != "__all__"}
    assert sum(v[0] for v in per_source.values()) == docs.count()
    assert sum(v[1] for v in per_source.values()) == report["__all__"][1]
    assert all(v[2] <= v[1] <= v[0] for v in report.values())


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


def test_stream_builders_leave_session_conf_unchanged(spark):
    """Building a streaming entry point must NOT permanently mutate the
    shared session conf: the legacy nanosAsLong read is scoped to schema
    inference (nanos_long_read_conf restores the prior value on exit)."""
    from omics_data_integration_utilities_spark.streaming.events import (
        _NANOS_CONF,
        windowed_event_counts_stream,
    )
    from omics_data_integration_utilities_spark.streaming.funnel import (
        windowed_funnel_stream,
    )

    path = f"{SF_SMOKE}/events.parquet"
    spark.conf.set(_NANOS_CONF, "false")
    windowed_event_counts_stream(spark, path)
    assert spark.conf.get(_NANOS_CONF) == "false"
    windowed_funnel_stream(
        spark, path, [("clicks", F.col("event_type") == "click")]
    )
    assert spark.conf.get(_NANOS_CONF) == "false"


def test_stream_builder_keeps_conf_for_genuine_nanos_feed(spark, tmp_path):
    """A TIMESTAMP(NANOS) parquet feed (footer-inspected) must KEEP the
    legacy conf set — the running stream decodes nanos only under it;
    restoring after inference would kill the first micro-batch.  And
    the stream must actually process the nanos rows end-to-end."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from omics_data_integration_utilities_spark.streaming.events import (
        _NANOS_CONF,
        windowed_event_counts_stream,
    )

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime([1.5e9, 1.5e9 + 60, 1.5e9 + 7200], unit="s"),
            "user_id": [1, 2, 1],
            "event_type": ["a", "b", "a"],
            "value": [1.0, 2.0, 3.0],
            "props": ["x", "y", "z"],
        }
    )
    path = str(tmp_path / "nanos_events.parquet")
    table = pa.Table.from_pandas(pdf)
    assert str(table.schema.field("ts").type).startswith("timestamp[ns")
    pq.write_table(table, path, version="2.6", coerce_timestamps=None)

    spark.conf.set(_NANOS_CONF, "false")
    stream_df = windowed_event_counts_stream(spark, path)
    assert spark.conf.get(_NANOS_CONF) == "true"  # kept for the stream
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName("nanos_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_nanos"))
        .start()
    )
    try:
        q.processAllAvailable()
        total = spark.sql("SELECT sum(n) AS t FROM nanos_out").collect()[0]["t"]
    finally:
        q.stop()
    assert total == 3


def test_multires_rollup_coarse_equals_direct(spark):
    """rollup(rollup(x)) == rollup(x): each coarser level (derived from
    the finer AGGREGATE) must equal the same resolution computed directly
    from raw — guaranteed by decimal-exact sums; also the resolution
    validation refuses non-divisible ladders."""
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


def test_upsert_sink_matches_batch_merge(spark, tmp_path):
    """Streaming MERGE sink: feed files arriving in two micro-batches,
    upsert each into the parquet snapshot — the final snapshot must
    equal the batch upsert of (batch2 over batch1), and the archive
    sink must persist the full feed."""
    import os

    from pyspark.sql import functions as F2

    from omics_data_integration_utilities_spark.operators.joins import (
        upsert_snapshot,
    )
    from omics_data_integration_utilities_spark.streaming.sinks import (
        read_bucketed_snapshot,
        start_bucketed_upsert_sink,
        start_parquet_append_sink,
    )

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    b1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, v double",
    )
    b2 = spark.createDataFrame(
        [(2, "B2", 22.0), (4, "d", 40.0)], "k long, name string, v double"
    )
    b1.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b1"))

    import shutil as _sh

    for f in os.listdir(str(tmp_path / "b1")):
        if f.endswith(".parquet"):
            _sh.copy(str(tmp_path / "b1" / f), f"{feed}/batch1.parquet")

    snapshot = str(tmp_path / "snapshot")
    stream = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = start_bucketed_upsert_sink(
        stream, snapshot, str(tmp_path / "ckpt_upsert"), ["k"]
    )
    try:
        q.processAllAvailable()
        first = {
            r["k"]: (r["name"], r["v"])
            for r in read_bucketed_snapshot(spark, snapshot).collect()
        }
        assert first == {1: ("a", 10.0), 2: ("b", 20.0), 3: ("c", 30.0)}
        # second batch arrives: key 2 updates, key 4 inserts
        b2.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "b2"))
        for f in os.listdir(str(tmp_path / "b2")):
            if f.endswith(".parquet"):
                _sh.copy(str(tmp_path / "b2" / f), f"{feed}/batch2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["k"]: (r["name"], r["v"])
        for r in read_bucketed_snapshot(spark, snapshot).collect()
    }
    want = {
        r["k"]: (r["name"], r["v"])
        for r in upsert_snapshot(b1, b2, ["k"]).collect()
    }
    assert got == want == {
        1: ("a", 10.0), 2: ("B2", 22.0), 3: ("c", 30.0), 4: ("d", 40.0)
    }

    # archive sink: append-mode parquet persists the whole feed
    archive = str(tmp_path / "archive")
    q2 = start_parquet_append_sink(
        spark.readStream.schema(b1.schema).parquet(feed),
        archive,
        str(tmp_path / "ckpt_archive"),
        trigger_once=True,
    )
    try:
        q2.awaitTermination(120)
    finally:
        q2.stop()
    assert spark.read.parquet(archive).count() == 5


def test_upsert_sink_survives_restart_from_checkpoint(spark, tmp_path):
    """The replay contract behind the sink's exactly-once claim: stop
    the query after batch 1, start a NEW query on the same checkpoint,
    deliver batch 2 — the snapshot must equal the batch merge, with
    batch 1 neither lost nor double-applied."""
    import os

    from omics_data_integration_utilities_spark.streaming.sinks import (
        read_bucketed_snapshot,
        start_bucketed_upsert_sink,
    )

    feed = str(tmp_path / "feed2")
    os.makedirs(feed)
    b1 = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    b2 = spark.createDataFrame([(2, 22.0), (3, 30.0)], "k long, v double")
    snapshot = str(tmp_path / "snap2")
    ckpt = str(tmp_path / "ckpt2")

    def deliver(df, name):
        tmp = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        import shutil as _sh

        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                _sh.copy(os.path.join(tmp, f), f"{feed}/{name}.parquet")

    def run_once():
        stream = spark.readStream.schema(b1.schema).parquet(feed)
        q = start_bucketed_upsert_sink(stream, snapshot, ckpt, ["k"])
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    deliver(b1, "b1")
    run_once()
    assert {
        r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snapshot).collect()
    } == {1: 10.0, 2: 20.0}
    deliver(b2, "b2")
    run_once()  # fresh query object, same checkpoint: resumes, not replays
    assert {
        r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snapshot).collect()
    } == {1: 10.0, 2: 22.0, 3: 30.0}


def test_nightly_ingest_integration(spark, tmp_path):
    """The composed nightly-ingest shape, end to end across modules:
    curated stream (gate + exact dedup) -> bucketed upsert snapshot ->
    persisted bucketed dedup index built FROM the snapshot -> next
    batch probed for verdicts.  Every piece is individually verified
    elsewhere; this pins the cross-module contract (schemas, id/text
    column conventions, index build from a sink-produced snapshot)."""
    from omics_data_integration_utilities_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_verdicts_indexed,
    )
    from omics_data_integration_utilities_spark.streaming.pipeline import (
        curate_doc_stream,
    )
    from omics_data_integration_utilities_spark.streaming.sinks import (
        read_bucketed_snapshot,
        start_bucketed_upsert_sink,
    )
    from .conftest import SF_SMOKE

    docs_path = f"{SF_SMOKE}/documents.parquet"
    curated = curate_doc_stream(spark, docs_path, min_quality=0.5)
    snapshot = str(tmp_path / "kept_snapshot")
    q = start_bucketed_upsert_sink(
        curated, snapshot, str(tmp_path / "ckpt_ingest"), ["content_hash"]
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    kept = read_bucketed_snapshot(spark, snapshot)
    n_kept = kept.count()
    assert n_kept > 0
    assert kept.select("content_hash").distinct().count() == n_kept

    # the snapshot needs the text to index; join it back by id
    docs = spark.read.parquet(docs_path)
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


def test_windowed_profile_stream_matches_batch(spark, tmp_path):
    """The streaming drift profile (watermark + windowed wide agg +
    per-window unpivot) must emit exactly the batch twin's rows once
    the stream drains: window start // 1h == the batch integer bucket,
    stats equal per (bucket, col_name)."""
    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.streaming.profile import (
        windowed_profile_agg,
        windowed_profile_stream,
    )

    path = f"{SF_SMOKE}/events.parquet"
    cols = ["value", "user_id"]
    stream_df = windowed_profile_stream(spark, path, cols, window="1 hour")
    q = (
        stream_df.writeStream.outputMode("complete")
        .format("memory")
        .queryName("profile_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = (
            spark.table("profile_out")
            .select(
                F.expr("unix_timestamp(window.start) div 3600").alias("bucket"),
                "col_name",
                "n_nonnull",
                "n_nulls",
                "mean",
                "stddev",
                "min_value",
                "max_value",
            )
            .collect()
        )
    finally:
        q.stop()

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = spark.read.parquet(path)
    # batch bucket is epoch MICROS // 3600e6 == epoch seconds // 3600
    want = windowed_profile_agg(events, cols, 3600).collect()
    canon = lambda rows: sorted(tuple(r) for r in rows)  # noqa: E731
    assert canon(got) == canon(want)
    assert len(want) > 0


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


def test_ann_probe_stream_matches_batch(spark, tmp_path):
    """Streaming similarity serving: a query feed probed per micro-batch
    against the persisted ANN index emits exactly the batch probe's
    top-k rows."""
    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.operators.similarity import (
        ann_index_topk,
        build_ann_index,
    )
    from omics_data_integration_utilities_spark.streaming.ann import (
        start_ann_probe_sink,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    idx = build_ann_index(
        emb, "embedding", "vec_id", "t_ann_stream", str(tmp_path / "idx"),
        n_lists=8,
    )
    try:
        queries = emb.where(F.col("vec_id") % 20 == 0)
        qpath = str(tmp_path / "qfeed")
        queries.write.parquet(qpath)
        out_path = str(tmp_path / "results")
        q = start_ann_probe_sink(
            spark, qpath, idx, out_path, str(tmp_path / "ckpt"),
            k=4, n_probes=3,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        batch_cols = ["query_id", "cand_id", "score", "rank"]
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(out_path).select(*batch_cols).collect()
        )
        want = sorted(
            tuple(r)
            for r in ann_index_topk(spark, queries, idx, k=4, n_probes=3)
            .select(*batch_cols)
            .collect()
        )
        assert got == want and len(got) > 0
        # replay idempotence: a second stream with a FRESH checkpoint
        # re-delivers the same feed as batch 0 — the batch_id-partitioned
        # dynamic overwrite must REWRITE that partition, not append
        # duplicates (the failure-between-write-and-commit scenario)
        q2 = start_ann_probe_sink(
            spark, qpath, idx, out_path, str(tmp_path / "ckpt_replay"),
            k=4, n_probes=3,
        )
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        replayed = sorted(
            tuple(r)
            for r in spark.read.parquet(out_path).select(*batch_cols).collect()
        )
        assert replayed == want
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ann_stream_lists")


@pytest.mark.parametrize("n_buckets", [1, 8])
def test_bucketed_upsert_parity_with_reference_merge(spark, tmp_path, n_buckets):
    """r13 verdict item 2: the bucketed snapshot is a LAYOUT, not a
    semantics change — the same batch sequence through the commit unit
    yields exactly the pure-DataFrame MERGE reference
    (``operators.joins.upsert_snapshot``) after every commit, and a
    streaming run through start_bucketed_upsert_sink agrees too.
    ``n_buckets=1`` is the whole-snapshot-rewrite shape: every commit
    writes one ``__bucket=0`` dir."""
    import os

    from omics_data_integration_utilities_spark.operators.joins import (
        upsert_snapshot,
    )
    from omics_data_integration_utilities_spark.streaming.events import (
        staged_file_stream,
    )
    from omics_data_integration_utilities_spark.streaming.sinks import (
        read_bucketed_snapshot,
        start_bucketed_upsert_sink,
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

    # streaming end-to-end (one batch per staged file)
    feed = str(tmp_path / "feed")
    stream_snap = str(tmp_path / "stream_snap")
    batches[0].unionByName(batches[1]).unionByName(batches[2]).write.parquet(feed)
    q = start_bucketed_upsert_sink(
        staged_file_stream(spark, feed).dropDuplicates(["k"]),
        stream_snap,
        str(tmp_path / "ckpt_bucketed"),
        ["k"],
        n_buckets=n_buckets,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    keys = sorted(
        r["k"] for r in read_bucketed_snapshot(spark, stream_snap).collect()
    )
    assert keys == sorted(set(range(0, 42)))


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
    (whole-rewrite) and multi-bucket shapes, and a CDC batch with no
    deletes equals the plain upsert commit."""
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
    for n_buckets in (1, 8):
        snap = str(tmp_path / f"cdc_{n_buckets}")
        for i, b in enumerate([seed, cdc]):
            apply_cdc_batch_into_bucketed_snapshot(
                spark, b, snap, ["k"], batch_id=i, n_buckets=n_buckets
            )
        want = {k: float(k) for k in range(20) if k not in (3, 7)}
        want[5] = 555.0
        want[99] = 99.0
        assert read(snap) == want, n_buckets
        # deleting an absent key is a no-op
        apply_cdc_batch_into_bucketed_snapshot(
            spark, ghost, snap, ["k"], batch_id=2, n_buckets=n_buckets
        )
        assert read(snap) == want, n_buckets
        # upsert-only CDC == plain upsert commit
        plain, cdc_up = (
            str(tmp_path / f"plain_{n_buckets}"),
            str(tmp_path / f"cdc_up_{n_buckets}"),
        )
        for i, b in enumerate([seed, up_only]):
            upsert_batch_into_bucketed_snapshot(
                spark, b.drop("op"), plain, ["k"], batch_id=i,
                n_buckets=n_buckets,
            )
            apply_cdc_batch_into_bucketed_snapshot(
                spark, b, cdc_up, ["k"], batch_id=i, n_buckets=n_buckets
            )
        want_up = {k: float(k) for k in range(20)}
        want_up[0] = -1.0
        assert read(cdc_up) == read(plain) == want_up, n_buckets


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


def test_cdc_streaming_sink_end_to_end(spark, tmp_path):
    """start_cdc_sink: a staged CDC feed (upserts then tombstones)
    through the streaming wrapper lands the same final snapshot, at one
    bucket and at the default bucket count; ``n_buckets=None`` is
    refused at sink creation."""
    from omics_data_integration_utilities_spark.streaming.events import (
        staged_file_stream,
    )
    from omics_data_integration_utilities_spark.streaming.sinks import (
        read_bucketed_snapshot,
        start_cdc_sink,
    )

    upserts = [(k, float(k), "upsert") for k in range(10)]
    # the tombstone for key 4 must arrive in a LATER micro-batch than
    # its upsert — same-key mixed ops within one batch are refused by
    # contract (unordered), which the guards test pins
    followup = [(4, 0.0, "delete"), (10, 10.0, "upsert")]
    want = {k: float(k) for k in range(10) if k != 4}
    want[10] = 10.0
    for layout, kwargs in (("one_bucket", {"n_buckets": 1}), ("default", {})):
        feed = str(tmp_path / f"cdc_feed_{layout}")
        spark.createDataFrame(
            upserts, "k long, v double, op string"
        ).coalesce(1).write.parquet(feed)
        snap = str(tmp_path / f"cdc_stream_{layout}")
        q = start_cdc_sink(
            staged_file_stream(spark, feed),
            snap,
            str(tmp_path / f"cdc_ckpt_{layout}"),
            ["k"],
            **kwargs,
        )
        try:
            q.processAllAvailable()
            # second micro-batch: new files appended to the feed
            spark.createDataFrame(
                followup, "k long, v double, op string"
            ).coalesce(1).write.mode("append").parquet(feed)
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r["k"]: r["v"] for r in read_bucketed_snapshot(spark, snap).collect()}
        assert got == want, layout
    with pytest.raises(TypeError):
        start_cdc_sink(
            staged_file_stream(spark, feed), str(tmp_path / "cdc_none"),
            str(tmp_path / "cdc_ckpt_none"), ["k"], n_buckets=None,
        )


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
    stream restarted with a FRESH checkpoint against an existing
    snapshot) must be refused loudly by both commit units — proceeding
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


def test_prune_batch_partitions_unit(tmp_path):
    """Keep-last-N retention over batch_id=N partitions: newest N stay
    (numeric order, not lexicographic — batch_id=10 outranks 9), the
    rest are removed and reported; the migration partition batch_id=-1
    is oldest by construction."""
    import os

    import pytest

    from omics_data_integration_utilities_spark.streaming.sinks import (
        prune_batch_partitions,
    )

    out = str(tmp_path / "arch")
    for b in (-1, 0, 2, 9, 10):
        os.makedirs(os.path.join(out, f"batch_id={b}"))
    pruned = prune_batch_partitions(out, keep_batches=2)
    assert sorted(pruned) == ["batch_id=-1", "batch_id=0", "batch_id=2"]
    assert sorted(os.listdir(out)) == ["batch_id=10", "batch_id=9"]
    # idempotent; missing dir is a no-op; floor enforced
    assert prune_batch_partitions(out, keep_batches=2) == []
    assert prune_batch_partitions(str(tmp_path / "nope"), 3) == []
    with pytest.raises(ValueError, match="keep_batches"):
        prune_batch_partitions(out, keep_batches=0)


def test_bounded_archive_sink_keeps_last_n(spark, tmp_path):
    """r14 verdict item 5: the bounded archive keeps exactly the newest
    keep_batches batch partitions while the unbounded append sink keeps
    everything — and what survives is the newest feeds' content."""
    import os
    import shutil as _sh

    from omics_data_integration_utilities_spark.streaming.sinks import (
        start_bounded_parquet_archive_sink,
    )

    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    schema = "k long, v double"

    def deliver(name, rows):
        df = spark.createDataFrame(rows, schema)
        stage = str(tmp_path / f"stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        for f in os.listdir(stage):
            if f.endswith(".parquet"):
                _sh.copy(os.path.join(stage, f), f"{feed}/{name}.parquet")

    deliver("f0", [(1, 1.0)])
    out = str(tmp_path / "arch")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = start_bounded_parquet_archive_sink(
        stream, out, str(tmp_path / "ckpt"), keep_batches=2
    )
    try:
        q.processAllAvailable()
        deliver("f1", [(2, 2.0)])
        q.processAllAvailable()
        deliver("f2", [(3, 3.0)])
        q.processAllAvailable()
    finally:
        q.stop()
    parts = sorted(n for n in os.listdir(out) if n.startswith("batch_id="))
    assert len(parts) == 2, parts
    got = sorted(
        (r["k"], r["v"]) for r in spark.read.parquet(out).select("k", "v").collect()
    )
    assert got == [(2, 2.0), (3, 3.0)]


def test_ann_probe_sink_keep_batches_bounds_archive(spark, tmp_path):
    """The streaming ANN probe sink's opt-in retention: with
    keep_batches=1 only the newest batch_id partition survives new
    triggers (default None keeps all — the archive contract)."""
    import os
    import shutil as _sh

    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.operators.similarity import (
        ann_index_topk,
        build_ann_index,
    )
    from omics_data_integration_utilities_spark.streaming.ann import (
        start_ann_probe_sink,
    )

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    idx = build_ann_index(
        emb, "embedding", "vec_id", "t_ann_keep", str(tmp_path / "idx"),
        n_lists=8,
    )
    try:
        q1 = emb.where(F.col("vec_id") % 20 == 0)
        q2 = emb.where(F.col("vec_id") % 20 == 7)
        qpath = str(tmp_path / "qfeed")
        os.makedirs(qpath)

        def deliver(name, df):
            stage = str(tmp_path / f"stage_{name}")
            df.coalesce(1).write.mode("overwrite").parquet(stage)
            for f in os.listdir(stage):
                if f.endswith(".parquet"):
                    _sh.copy(os.path.join(stage, f), f"{qpath}/{name}.parquet")

        deliver("q1", q1)
        out_path = str(tmp_path / "results")
        q = start_ann_probe_sink(
            spark, qpath, idx, out_path, str(tmp_path / "ckpt"),
            k=4, n_probes=3, keep_batches=1,
        )
        try:
            q.processAllAvailable()
            deliver("q2", q2)
            q.processAllAvailable()
        finally:
            q.stop()
        parts = [n for n in os.listdir(out_path) if n.startswith("batch_id=")]
        assert len(parts) == 1, parts
        # the surviving partition is the NEWEST batch and matches the
        # batch probe over the second query set
        batch_cols = ["query_id", "cand_id", "score", "rank"]
        got = sorted(
            tuple(r)
            for r in spark.read.parquet(out_path).select(*batch_cols).collect()
        )
        want = sorted(
            tuple(r)
            for r in ann_index_topk(spark, q2, idx, k=4, n_probes=3)
            .select(*batch_cols)
            .collect()
        )
        assert got == want and len(got) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ann_keep_lists")
