"""Source reader tests (SURVEY §2.1 S1/S2): schema-declared CSV, TSV with
comment lines, positional rename, and write-then-read round trips that
replace the reference's append-loop sinks (S8-S10)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from omics_data_integration_utilities_spark.sources import (
    local_frame,
    read_csv,
    read_parquet_table,
    read_tsv_with_comments,
    rename_by_position,
)

from .conftest import SF_SMOKE, jobs_fired


def test_read_csv_declared_schema(spark, tmp_path):
    p = tmp_path / "sig.csv"
    p.write_text("name,mz\nm1,101.5\nm2,202.25\n")
    df = read_csv(spark, str(p), schema="ms_name string, mz double")
    # header row is data when schema names differ? header=True skips it
    rows = sorted((r["ms_name"], r["mz"]) for r in df.collect())
    assert rows == [("m1", 101.5), ("m2", 202.25)]
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string", "double"]


def test_read_tsv_with_comments(spark, tmp_path):
    p = tmp_path / "chem_prop.tsv"
    p.write_text("#MNX_ID\tName\n#comment line\nMNXM1\twater\nMNXM2\tethanol\n")
    df = read_tsv_with_comments(spark, str(p), "mnx_id string, name string")
    rows = sorted((r["mnx_id"], r["name"]) for r in df.collect())
    assert rows == [("MNXM1", "water"), ("MNXM2", "ethanol")]


def test_rename_by_position(spark):
    df = spark.createDataFrame([(1, "a", 2.0)], "c1 long, c2 string, c3 double")
    out = rename_by_position(df, ["ms_name", "mz"])
    assert out.columns == ["ms_name", "mz", "c3"]


def test_single_write_replaces_append_loop(spark, tmp_path):
    """S8 semantics: iterative pd.concat + mode='a' appends become one
    unionByName + one write."""
    parts = [
        spark.createDataFrame([(i, float(i))], "k long, v double") for i in range(4)
    ]
    acc = parts[0]
    for p in parts[1:]:
        acc = acc.unionByName(p)
    out = str(tmp_path / "out.parquet")
    acc.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == 4
    assert back.agg(F.sum("v")).collect()[0][0] == 6.0


def test_headerless_space_separated_sink(spark, tmp_path):
    """S10: ClusterOne edge-file shape."""
    df = spark.createDataFrame([("a", "b", 0.5)], "src string, dst string, w double")
    out = str(tmp_path / "edges")
    df.coalesce(1).write.option("sep", " ").option("header", False).csv(out)
    txt = [
        line
        for f in (tmp_path / "edges").iterdir()
        if f.suffix == ".csv"
        for line in f.read_text().splitlines()
    ]
    assert txt == ["a b 0.5"]


def test_sqlite_sink_and_scan_roundtrip(spark, tmp_path):
    """S3/S9: write a result table to SQLite (batched stdlib inserts),
    read it back as a broadcastable dim, parameterized point query too."""
    from omics_data_integration_utilities_spark.sources.readers import read_sqlite_table
    from omics_data_integration_utilities_spark.sources.writers import write_sqlite_table

    db = str(tmp_path / "results.db")
    df = spark.createDataFrame(
        [(1, "a", 1.5, True), (2, "b", 2.5, False), (3, "c", None, True)],
        "id long, name string, score double, keep boolean",
    )
    n = write_sqlite_table(df, db, "annot", mode="replace")
    assert n == 3

    back = read_sqlite_table(spark, db, "annot")
    assert sorted(r["name"] for r in back.collect()) == ["a", "b", "c"]
    assert back.where("score IS NULL").count() == 1

    # append mode accumulates
    write_sqlite_table(df.where("id = 1"), db, "annot", mode="append")
    assert read_sqlite_table(spark, db, "annot").count() == 4

    # S4 parameterized point query
    one = read_sqlite_table(
        spark, db, 'SELECT id, name FROM "annot" WHERE id = ?', params=[2]
    )
    assert [tuple(r) for r in one.collect()] == [(2, "b")]

    # empty result keeps a usable shape
    empty = read_sqlite_table(spark, db, 'SELECT id, name FROM "annot" WHERE id = -1')
    assert empty.count() == 0 and empty.columns == ["id", "name"]

    # driver-memory guard: fact-table misuse fails loudly, pointing at parquet
    import pytest

    with pytest.raises(ValueError, match="max_rows"):
        read_sqlite_table(spark, db, "annot", max_rows=2)
    # an explicit higher cap re-admits the read
    assert read_sqlite_table(spark, db, "annot", max_rows=10).count() == 4


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """S8/S10 + the 100 TB join strategy: two tables bucketed on the join
    key by write_bucketed_table join as a SortMergeJoin with ZERO
    Exchange — the storage-side co-location that turns repeated big-fact
    joins into shuffle-free scans.  An unbucketed control shows the two
    exchanges bucketing removes."""
    from pyspark.sql import functions as F

    from omics_data_integration_utilities_spark.sources.writers import write_bucketed_table

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(10_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
        b = spark.range(10_000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
        write_bucketed_table(a, "bkt_a", ["k"], n_buckets=8, path=str(tmp_path / "a"))
        write_bucketed_table(b, "bkt_b", ["k"], n_buckets=8, path=str(tmp_path / "b"))
        j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert plan.count("Exchange") == 0
        assert j.count() == 10_000
        control = a.join(b, "k")
        cplan = control._jdf.queryExecution().executedPlan().toString()
        assert cplan.count("Exchange") == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_read_jsonl_permissive_corrupt_quarantine(spark, tmp_path):
    """JSONL source (north-star ingest format): declared schema, one
    object per line, malformed lines land in _corrupt_record instead of
    failing the scan."""
    from omics_data_integration_utilities_spark.sources.readers import read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en"}\n'
        '{"doc_id": 2, "text": "bonjour", "lang": "fr"}\n'
        "this line is not json at all\n"
        '{"doc_id": 4, "text": null, "lang": "de"}\n'
    )
    df = read_jsonl(spark, str(p), "doc_id long, text string, lang string")
    rows = df.collect()
    assert len(rows) == 4
    good = [r for r in rows if r["_corrupt_record"] is None]
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert {r["doc_id"] for r in good} == {1, 2, 4}
    assert len(bad) == 1 and "not json" in bad[0]["_corrupt_record"]
    # schema is the declared one + quarantine column, never inferred
    assert df.schema.simpleString() == (
        "struct<doc_id:bigint,text:string,lang:string,_corrupt_record:string>"
    )


def test_write_jsonl_roundtrip(spark, tmp_path):
    """JSONL sink → read_jsonl roundtrip preserves rows; shard count
    follows target_rows_per_file."""
    from omics_data_integration_utilities_spark.sources.readers import read_jsonl
    from omics_data_integration_utilities_spark.sources.writers import write_jsonl

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)], "doc_id long, text string"
    )
    p = str(tmp_path / "out")
    advisory_key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(advisory_key, None)
    write_jsonl(df, p, target_rows_per_file=25, compression=None)
    # the 1 GiB advisory override is write-scoped: restored afterwards
    assert spark.conf.get(advisory_key, None) == before
    back = read_jsonl(spark, p, "doc_id long, text string")
    rows = back.collect()
    assert len(rows) == 100
    assert all(r["_corrupt_record"] is None for r in rows)
    assert sorted((r["doc_id"], r["text"]) for r in rows) == [
        (i, f"doc {i}") for i in range(100)
    ]
    import glob

    assert len(glob.glob(f"{p}/part-*")) == 4


def test_write_jsonl_gzip_roundtrip(spark, tmp_path):
    """Default gzip compression roundtrips through read_jsonl (the
    json-lines reader decompresses by extension)."""
    from omics_data_integration_utilities_spark.sources.readers import read_jsonl
    from omics_data_integration_utilities_spark.sources.writers import write_jsonl

    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(50)], "doc_id long, text string"
    )
    p = str(tmp_path / "gz")
    write_jsonl(df, p)  # gzip default
    import glob

    assert glob.glob(f"{p}/part-*.gz"), "expected gzip-compressed shards"
    back = read_jsonl(spark, p, "doc_id long, text string")
    # Spark disallows referencing ONLY _corrupt_record on a raw JSON
    # scan; collecting the full rows sidesteps that and checks content
    rows = back.collect()
    assert len(rows) == 50
    assert all(r["_corrupt_record"] is None for r in rows)


def test_read_jsonl_does_not_mutate_caller_schema(spark, tmp_path):
    """r9 review regression: StructType.add appends IN PLACE, so the
    reader must add the quarantine column on a copy — the caller's
    schema object stays exactly as built."""
    from pyspark.sql import types as T

    from omics_data_integration_utilities_spark.sources.readers import read_jsonl

    p = tmp_path / "s"
    p.mkdir()
    (p / "a.jsonl").write_text('{"doc_id": 1, "text": "x"}\n')
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )
    read_jsonl(spark, str(p), schema)
    assert schema.fieldNames() == ["doc_id", "text"]


def test_write_partitioned_one_file_per_dir_and_roundtrip(spark, tmp_path):
    """layout.write_partitioned: Hive dirs per partition value, ONE data
    file per directory (the small-files guard), and a lossless
    round-trip (partition values recovered from directory names)."""
    import os

    from omics_data_integration_utilities_spark.sources.layout import (
        read_table,
        write_partitioned,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "part")
    write_partitioned(docs, path, ["lang"], cluster_by=["doc_id"])
    dirs = [d for d in os.listdir(path) if d.startswith("lang=")]
    assert sorted(dirs) == sorted(
        f"lang={r['lang']}" for r in docs.select("lang").distinct().collect()
    )
    for d in dirs:
        files = [
            f for f in os.listdir(os.path.join(path, d)) if f.endswith(".parquet")
        ]
        assert len(files) == 1, f"{d}: expected 1 data file, got {files}"
    back = read_table(spark, path)
    want = sorted(tuple(r) for r in docs.select(*sorted(docs.columns)).collect())
    got = sorted(tuple(r) for r in back.select(*sorted(docs.columns)).collect())
    assert got == want


def test_write_clustered_disjoint_ranges(spark, tmp_path):
    """layout.write_clustered: the requested file count, disjoint key
    ranges across files (so row-group min/max stats are tight), and a
    lossless round-trip."""
    import os

    import pyarrow.parquet as pq

    from omics_data_integration_utilities_spark.sources.layout import (
        read_table,
        write_clustered,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "clus")
    write_clustered(docs, path, ["doc_id"], num_files=4)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    # range partitioner may emit fewer files than asked on tiny inputs,
    # never more
    assert 1 <= len(files) <= 4
    spans = []
    for f in files:
        t = pq.read_table(os.path.join(path, f), columns=["doc_id"])
        ids = t.column("doc_id").to_pylist()
        if ids:
            assert ids == sorted(ids), "file not internally sorted"
            spans.append((ids[0], ids[-1]))
    spans.sort()
    for (lo_a, hi_a), (lo_b, _) in zip(spans, spans[1:]):
        assert hi_a < lo_b, f"overlapping ranges {spans}"
    assert read_table(spark, path).count() == docs.count()


def test_layout_writer_input_validation(spark):
    import pytest

    from omics_data_integration_utilities_spark.sources.layout import (
        write_clustered,
        write_partitioned,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with pytest.raises(ValueError):
        write_partitioned(docs, "/tmp/never", [])
    with pytest.raises(ValueError):
        write_clustered(docs, "/tmp/never", [], 4)
    with pytest.raises(ValueError):
        write_clustered(docs, "/tmp/never", ["doc_id"], 0)


def test_scan_split_estimate_gates_like_the_rdd_count(spark, tmp_path):
    """r17 (verdict item 7): the file-index split estimate must reproduce
    the gate decisions the old ``df.rdd.getNumPartitions()`` made —
    small local scan => fan out; input already split at or past the cap
    => leave alone — without any plan-to-RDD translation."""
    from omics_data_integration_utilities_spark.sources.readers import (
        scan_split_estimate,
    )

    # one small parquet file: a single-row-group local scan (the case
    # the gate exists for) must estimate below any realistic cap
    p1 = str(tmp_path / "one")
    spark.range(1000).coalesce(1).write.parquet(p1)
    one = spark.read.parquet(p1)
    est = scan_split_estimate(one, 32)
    assert est < 32
    assert est >= 1
    # the estimate must agree with the real scan partition count's
    # SIDE of the gate (not necessarily the exact number)
    assert (est < 32) == (one.rdd.getNumPartitions() < 32)

    # non-file relation (checkpointed intermediate): "don't respread"
    chk = spark.range(100).localCheckpoint()
    assert scan_split_estimate(chk, 32) == 32

    # enough files to exceed a small cap via the open-cost charge alone:
    # the count short-circuit proves >= cap without statting every file
    p2 = str(tmp_path / "many")
    spark.range(4000).repartition(8).write.parquet(p2)
    many = spark.read.parquet(p2)
    assert scan_split_estimate(many, 2) >= 2


def test_spread_scan_still_fans_out_local_single_file(spark):
    """The registry gate must still fan a 1-partition local scan out to
    defaultParallelism after the r17 estimate swap."""
    from omics_data_integration_utilities_spark.plans.registry import _spread_scan

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = _spread_scan(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_parquet_schema_cache_reads_without_a_job(spark, tmp_path):
    """The second read of one unchanged local file passes the cached
    schema: no footer-inference job, and the same schema and rows as a
    fresh inference (TIMESTAMP(NANOS) under the session's
    ``nanosAsLong`` included).  Rewriting the file with another schema
    is seen on the next read."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    ts = [datetime.datetime(2024, 1, 1, 0, 0, k) for k in range(3)]
    pq.write_table(
        pa.table(
            {
                "k": pa.array([1, 2, None], pa.int64()),
                "v": pa.array([0.5, float("nan"), None], pa.float64()),
                "ts": pa.array(ts, pa.timestamp("ns")),
            }
        ),
        path,
    )
    assert jobs_fired(spark, lambda: read_parquet_table(spark, path)) >= 1
    box = []
    assert jobs_fired(spark, lambda: box.append(read_parquet_table(spark, path))) == 0
    cached, fresh = box[0], spark.read.parquet(path)
    assert cached.schema == fresh.schema
    assert dict(fresh.dtypes)["ts"] == "bigint"
    assert sorted(map(repr, cached.collect())) == sorted(map(repr, fresh.collect()))

    pq.write_table(pa.table({"name": ["a", "b"], "w": [1.0, 2.0]}), path)
    after = read_parquet_table(spark, path)
    assert after.schema == spark.read.parquet(path).schema
    assert after.columns == ["name", "w"]
    assert sorted(r["name"] for r in after.collect()) == ["a", "b"]


def test_parquet_schema_cache_keys_on_inference_confs(spark, tmp_path):
    """Flipping ``binaryAsString`` between two reads of a file with an
    unannotated BINARY column gives what fresh inference gives."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x", b"yz"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    saved = spark.conf.get(key, None)
    try:
        for flag in ("false", "true", "false"):
            spark.conf.set(key, flag)
            got = read_parquet_table(spark, path)
            assert got.schema == spark.read.parquet(path).schema, flag
            want = "string" if flag == "true" else "binary"
            assert dict(got.dtypes)["b"] == want
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)


def test_parquet_directory_read_still_infers(spark, tmp_path):
    """A directory is outside the cache: every read infers, as
    ``spark.read.parquet`` does."""
    path = str(tmp_path / "dir")
    spark.range(10).write.parquet(path)
    for _ in range(2):
        assert jobs_fired(spark, lambda: read_parquet_table(spark, path)) >= 1
    assert read_parquet_table(spark, path).count() == 10


def test_reader_leaves_session_conf_unset(spark):
    """The table reader sets no session conf: ``nanosAsLong`` comes from
    ``get_spark`` only, and a session without it keeps it unset."""
    from omics_data_integration_utilities_spark.plans.registry import _t

    key = "spark.sql.legacy.parquet.nanosAsLong"
    from_get_spark = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        assert _t(spark, SF_SMOKE, "part").count() > 0
        assert spark.conf.get(key, None) is None
    finally:
        spark.conf.set(key, "true")
    assert from_get_spark == "true"


# Every DDL a constant table is built from, with rows that carry NULLs,
# NaNs and empty arrays where the type allows them.
_LOCAL_FRAME_CASES = [
    ("Ion_name string, Mass double, Mult double",
     [("M+H", 1.007276, 1.0), ("M+Na", float("nan"), None), (None, 0.0, 2.0)]),
    ("transition string, delta double", [("methyl", 14.01565), ("x", None)]),
    ("rule_id string, pattern string, replacement string",
     [("r1", "[aeiou]{2,}", "_"), ("r2", None, "")]),
    ("probe_id string, inner_smarts string", [("p1", "[N&X3:2]")]),
    ("pick long, mut_gene string, covered long", [(0, "g1", 7), (1, None, None)]),
    ("name string, n_buckets int", [("idx", 16)]),
    ("query_id long, probe_lists array<long>", [(1, [3, 1]), (2, []), (3, None)]),
    ("list_id long, centroid array<double>",
     [(0, [0.5, float("nan")]), (1, [None, 1.0]), (2, [])]),
    ("name string, n_lists int, n_buckets int, vec_col string, "
     "id_col string, id_type string, vec_type string",
     [("ann", 4, 2, "vec", "id", "bigint", "array<double>")]),
]


@pytest.mark.parametrize("ddl,rows", _LOCAL_FRAME_CASES)
def test_local_frame_matches_create_dataframe(spark, ddl, rows):
    """``local_frame`` gives the rows, schema and nullability that
    ``createDataFrame(list, ddl)`` gives (NULL stays NULL, NaN stays
    NaN), plans as a ``LocalTableScan`` with no Python RDD behind it,
    and ``[]`` gives an empty frame with the schema."""
    import math

    got = local_frame(spark, rows, ddl)
    ref = spark.createDataFrame(rows, ddl)
    assert got.schema == ref.schema

    def canon(v):
        if isinstance(v, float) and math.isnan(v):
            return "nan"
        if isinstance(v, list):
            return [canon(x) for x in v]
        return v

    def canon_rows(df):
        return sorted(repr([canon(v) for v in r]) for r in df.collect())

    assert canon_rows(got) == canon_rows(ref)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    empty = local_frame(spark, [], ddl)
    assert empty.schema == ref.schema
    assert empty.collect() == []


def test_meantools_builds_fire_no_read_or_constant_jobs(spark):
    """Warm builds of the MEANtools plans run no Spark job: table
    schemas come from the reader's cache, constant tables are local
    relations and ``k12_perm_fdr`` is one lazy plan.  A warm
    ``k12_perm_fdr`` build plus its ``noop`` write fires at most 7 jobs:
    one per shuffle (series, rank table, per-sample pairs, pair stats,
    block window), the rank-table broadcast and the write."""
    import __spark_entry__

    queries = __spark_entry__.queries()
    for name in ("plan_mass_annotation", "k1_graph_rewrite", "k12_perm_fdr"):
        build = queries[name]
        build(spark, SF_SMOKE)
        assert jobs_fired(spark, lambda: build(spark, SF_SMOKE)) == 0, name

    def run():
        queries["k12_perm_fdr"](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()

    assert jobs_fired(spark, run) <= 7


def test_ngram_jaccard_builds_fire_no_jobs(spark):
    """``ngram_jaccard_pairs`` is one lazy plan: no checkpoint and no
    count at build, so a warm ``dedup_ngram_jaccard`` build runs no
    Spark job, and the build plus its ``noop`` write runs at most 6 (the
    shingle scan spread, the shared posting exchange, the pair and size
    aggregations, the one size-table broadcast and the write; 8 with the
    former checkpoint-and-count build).  Every other registered query
    over the operator runs no more jobs for build plus write than the
    checkpoint-and-count build did (SCALE.md "n-gram Jaccard pairs as
    one lazy plan" has the counts by query)."""
    import __spark_entry__

    queries = __spark_entry__.queries()
    build = queries["dedup_ngram_jaccard"]
    build(spark, SF_SMOKE)
    assert jobs_fired(spark, lambda: build(spark, SF_SMOKE)) == 0

    budgets = {
        "dedup_ngram_jaccard": 6,
        "dedup_components": 33,
        "dedup_keep_best": 38,
        "dedup_minhash_accuracy": 10,
        "plan_data_pipeline": 13,
        "doc_split_leakage_safe": 33,
    }
    fired = {}
    for name in budgets:
        def run(name=name):
            queries[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()

        run()
        fired[name] = jobs_fired(spark, run)
    assert all(fired[n] <= budgets[n] for n in budgets), fired


def test_bounded_side_joins_fire_no_jobs_at_build(spark):
    """The joins of an unbounded relation with a bounded one are safe by
    plan shape (LEFT SEMI or LEFT OUTER, unbounded side on the left), so
    no operator checkpoints or counts a join side at build: warm builds
    of ``text_decontaminate``, ``text_contamination_report`` and
    ``dedup_minhash_accuracy`` run no Spark job.  Build plus ``noop``
    write runs no more jobs than measured for the shape (SCALE.md "join
    safety by plan shape" has the counts by query).  The sketch queries
    still fire their certificate actions at build."""
    import __spark_entry__

    queries = __spark_entry__.queries()
    for name in ("text_decontaminate", "text_contamination_report", "dedup_minhash_accuracy"):
        build = queries[name]
        build(spark, SF_SMOKE)
        assert jobs_fired(spark, lambda: build(spark, SF_SMOKE)) == 0, name

    budgets = {
        "text_heavy_hitters": 9,
        "events_hot_users": 8,
        "events_hot_users_bytes": 8,
        "events_salted_join": 11,
        "text_decontaminate": 8,
        "text_contamination_report": 11,
        "dedup_minhash_accuracy": 10,
    }
    fired = {}
    for name in budgets:
        def run(name=name):
            queries[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()

        run()
        fired[name] = jobs_fired(spark, run)
    assert all(fired[n] <= budgets[n] for n in budgets), fired


def test_plans_read_through_one_reader():
    """No plan module reads parquet or builds a DataFrame from rows
    directly: tables go through ``read_parquet_table`` (via
    ``registry._t``) and constant tables through ``local_frame``."""
    import ast
    import pathlib

    import omics_data_integration_utilities_spark.plans as plans

    root = pathlib.Path(plans.__file__).parent
    hits = []
    for path in sorted(root.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call) or not isinstance(node.func, ast.Attribute):
                continue
            f = node.func
            direct_read = (
                f.attr == "parquet"
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "read"
            )
            if direct_read or f.attr == "createDataFrame":
                hits.append(f"{path.name}:{node.lineno}: {f.attr}")
    assert hits == []
