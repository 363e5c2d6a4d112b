"""Sinks (SURVEY §2.1 S8-S10).

The reference writes incrementally — header-once CSV then ``mode='a'``
appends inside loops (``heraldPathways.py:505-522``), per-chunk SQLite
appends (``queryMassNPDB_mod.py:149-151``) — because pandas cannot hold
the full result.  The engine's posture: accumulate lazily (union of
DataFrames is a plan, not data) and write ONCE; for genuinely incremental
production use, partitioned parquet appends keep writes atomic per
partition.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 64,
    path: str | None = None,
) -> None:
    """Bucketed table: co-locates later joins/aggregations on
    ``bucket_cols`` without a shuffle — the storage-side half of the
    100 TB join strategy (SURVEY §4 'Parquet bucketing of NPDB by
    rounded mass').  ``path`` makes it an external table (data at the
    given location instead of the session warehouse); either way the
    catalog keeps the bucketing metadata joins need for shuffle
    elimination (tests/test_sources.py proves zero-Exchange SMJ)."""
    writer = (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
    )
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(name)


def write_sqlite_table(
    df: DataFrame,
    db_path: str,
    table: str,
    mode: str = "replace",
    batch_size: int = 10_000,
) -> int:
    """S9: real SQLite sink via the Python stdlib ``sqlite3`` — the
    reference's result-table writes (``queryMassNPDB_mod.py:149-151``
    per-chunk ``to_sql`` appends; ``mapBaseRetroRules.py`` rule_map
    dumps).  SQLite is a single-writer driver-side store, so this sink is
    for SMALL RESULT TABLES (the reference's own regime — its outputs are
    final annotation/rule tables, not the 100 TB scan): rows stream to
    the driver via ``toLocalIterator`` (no full collect) and insert in
    batched transactions.  Large outputs belong in parquet
    (``df.write.parquet``, :func:`write_bucketed_table`).

    ``mode``: 'replace' drops + recreates, 'append' adds to an existing
    table.  Returns the number of rows written.
    """
    import sqlite3

    cols = df.columns
    _type_map = {
        "bigint": "INTEGER", "int": "INTEGER", "smallint": "INTEGER",
        "tinyint": "INTEGER", "boolean": "INTEGER",
        "double": "REAL", "float": "REAL",
    }
    defs = ", ".join(
        f'"{f.name}" {_type_map.get(f.dataType.simpleString(), "TEXT")}'
        for f in df.schema.fields
    )
    qtable = f'"{table}"'
    con = sqlite3.connect(db_path)
    try:
        if mode == "replace":
            con.execute(f"DROP TABLE IF EXISTS {qtable}")
        con.execute(f"CREATE TABLE IF NOT EXISTS {qtable} ({defs})")
        placeholders = ", ".join("?" for _ in cols)
        sql = f"INSERT INTO {qtable} VALUES ({placeholders})"
        n = 0
        batch = []
        for row in df.toLocalIterator():
            batch.append(tuple(row))
            if len(batch) >= batch_size:
                con.executemany(sql, batch)
                n += len(batch)
                batch = []
        if batch:
            con.executemany(sql, batch)
            n += len(batch)
        con.commit()
        return n
    finally:
        con.close()


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    target_rows_per_file: int | None = None,
    compression: str | None = "gzip",
) -> None:
    """JSON-lines sink (pairs with ``sources.readers.read_jsonl``): the
    interchange format downstream tokenizers and data loaders consume.

    ``target_rows_per_file`` controls shard granularity — size it so a
    shard is O(100 MB-1 GB) at the corpus's average document length
    (too many tiny files throttle object-store listing; too few starve
    loader parallelism).  Implemented as one job (r9; the previous
    ``count()+repartition`` ran an extra full pass): an AQE REBALANCE
    merges undersized partitions, then the writer's
    ``maxRecordsPerFile`` cuts each partition into ``target``-row
    files.  The rebalance advisory size is raised to 1 GiB for the
    write (and restored after) so the row cap — not AQE's default
    64 MB merge target — decides shard size even for large targets; a
    file can still come out under target when AQE is disabled (the
    hint is then a no-op and input partitioning rules) or a partition
    exceeds 1 GiB.  Gzip by default: json-lines compresses 5-10x and
    every loader reads it.
    """
    writer = df
    out_opts: dict[str, str] = {}
    advisory_key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    saved_advisory: str | None = None
    spark = df.sparkSession
    if target_rows_per_file is not None:
        writer = df.hint("rebalance")
        out_opts["maxRecordsPerFile"] = str(int(target_rows_per_file))
        # save/restore semantics (probed on this Spark build): when the
        # key was never explicitly set, ``conf.get(key, None)`` returns
        # None (NOT the registered '64MB' default), so the unset-restore
        # branch below genuinely restores the never-set state; a
        # session-level explicit value (incl. spark-defaults at build
        # time) comes back as a string and is restored by set.  The conf
        # mutation is session-global and therefore NOT safe against a
        # concurrent writer in the same session racing this window.
        try:
            saved_advisory = spark.conf.get(advisory_key, None)
            spark.conf.set(advisory_key, "1g")
        except Exception:
            saved_advisory = None
    try:
        out = writer.write.mode(mode).options(**out_opts)
        if compression:
            out = out.option("compression", compression)
        out.json(path)
    finally:
        if target_rows_per_file is not None:
            try:
                if saved_advisory is None:
                    spark.conf.unset(advisory_key)
                else:
                    spark.conf.set(advisory_key, saved_advisory)
            except Exception:
                pass

