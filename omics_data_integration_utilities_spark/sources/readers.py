"""Schema-declared readers (SURVEY §2.1 S1–S5).

The reference reads CSVs header-on and renames columns *by position*
(``queryMassNPDB.py:108``, ``gizmos.py:641-644``), reads MetaNetX TSVs with
``#`` comment lines (``getMassTransitions.py:42-47``), and scans SQLite
tables row-at-a-time.  Here every source declares a schema up front
(killing the reference's dtype-mismatch bug class,
``pathMassTransitions.py:244-248``) and lands in columnar form so Catalyst
gets predicate pushdown + column pruning for free.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict
from collections.abc import Sequence
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """CSV scan (S1).  Schema declared, never inferred in production paths."""
    reader = spark.read.option("header", header).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_tsv_with_comments(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    comment: str = "#",
) -> DataFrame:
    """TSV scan with comment lines skipped (S2) — MetaNetX ``chem_prop.tsv``
    shape (reference ``getMassTransitions.py:42-47``)."""
    return (
        spark.read.option("sep", "\t")
        .option("comment", comment)
        .option("header", False)
        .schema(schema)
        .csv(path)
    )


# Parquet confs that change what footer inference returns for one file.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_SCHEMA_CACHE_SIZE = 64
_schema_cache: OrderedDict[tuple, T.StructType] = OrderedDict()
_schema_cache_lock = threading.Lock()


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """Cache key of a local single parquet file: its identity plus the
    session's inference confs.  ``None`` (infer as Spark always does)
    for a directory, a glob, a non-local URI or a path that cannot be
    statted."""
    parsed = urlparse(path)
    if parsed.scheme not in ("", "file"):
        return None
    local = parsed.path if parsed.scheme else path
    if any(c in local for c in "{}[]*?\\"):
        return None
    try:
        real = os.path.realpath(local)
        st = os.stat(real)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    return (real, st.st_ino, st.st_size, st.st_mtime_ns) + confs


def read_parquet_table(spark: SparkSession, path: str, columns: Sequence[str] | None = None) -> DataFrame:
    """Parquet scan (the engine's canonical storage; SQLite tables are
    ingested once to Parquet — S3-S5 — then every filtered scan gets
    pushdown).  The one table reader: every registry ``_t`` read lands
    here.

    Footer schema inference is a Spark job (a median 103 ms per read on
    a 4-vCPU VM; the same read given its schema is 13.5 ms and no job;
    SCALE.md 2026-10-19).
    A local single file's schema is therefore inferred once, by Spark
    itself, and kept in a small process-wide LRU keyed on the file's
    realpath, inode, size and mtime and on the session's
    :data:`_INFERENCE_CONFS`; a later read of the unchanged file passes
    that schema.  Directories, globs, non-local URIs and unstattable
    paths infer on every read, exactly as ``spark.read.parquet``.
    Reads no session conf it does not key on and sets none."""
    key = _schema_key(spark, path)
    with _schema_cache_lock:
        schema = _schema_cache.get(key) if key is not None else None
        if schema is not None:
            _schema_cache.move_to_end(key)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            with _schema_cache_lock:
                _schema_cache[key] = df.schema
                while len(_schema_cache) > _SCHEMA_CACHE_SIZE:
                    _schema_cache.popitem(last=False)
    if columns:
        df = df.select(*columns)
    return df


def local_frame(spark: SparkSession, rows: Sequence[tuple], ddl: str) -> DataFrame:
    """A small driver-local constant table as a ``LocalRelation``.

    ``spark.createDataFrame(list, ddl)`` plans as ``Scan ExistingRDD``
    over pickled Python slices, so broadcasting or writing it runs a job
    through Python workers.  Here the rows become a column-wise
    ``pyarrow.Table`` typed from ``ddl``, which Spark plans as
    ``LocalTableScan``: its broadcast job runs in the JVM alone (one
    warm ``meantools`` pass, 4-vCPU VM: 15-33 ms per broadcast against
    333-356 ms; SCALE.md 2026-10-19).  ``None`` stays NULL and ``float('nan')`` stays NaN (no
    pandas round trip, whose Arrow conversion masks NaN to NULL), and
    every field is nullable as ``createDataFrame(list, ddl)`` makes it.

    The rows are inlined into the plan, so use this for bounded inputs
    only (rule tables, adducts, sidecar metadata); data-dependent row
    sets stay on ``createDataFrame``.  ``LocalTableScan`` splits up to
    one partition per row: ``.coalesce(1)`` before a write that must
    leave one part file."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = T.StructType.fromDDL(ddl)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def rename_by_position(df: DataFrame, names: Sequence[str]) -> DataFrame:
    """Positional rename, the reference's ``df.columns = [...]`` idiom
    (``queryMassNPDB.py:108``).  Renames the first ``len(names)`` columns."""
    cols = df.columns
    if len(names) > len(cols):
        raise ValueError(f"{len(names)} names for {len(cols)} columns")
    mapping = dict(zip(cols, names))
    return df.withColumnsRenamed(mapping)


def read_sqlite_table(
    spark: SparkSession,
    db_path: str,
    table_or_query: str,
    params: Sequence | None = None,
    max_rows: int = 1_000_000,
) -> DataFrame:
    """S3/S4: real SQLite scan via the Python stdlib ``sqlite3`` — the
    reference's input databases (``queryMassNPDB_mod.py:40-47`` NPDB
    reads, parameterized point queries).  SQLite is a driver-local
    single-file store, so this reader is for SMALL DIMENSION TABLES (the
    reference's regime): rows load driver-side once and become a
    DataFrame that downstream joins should ``broadcast()``.  Big fact
    tables belong in parquet (:func:`read_parquet_table`).

    ``max_rows`` is a driver-memory guard: exceeding it raises instead of
    silently materializing a fact table on the driver.  Raise the cap
    explicitly if a dimension is genuinely that large — or better, ingest
    it to parquet once and use :func:`read_parquet_table`.

    ``table_or_query``: a bare table name, or a full SELECT (optionally
    parameterized with ``?`` + ``params`` — the reference's point-query
    shape, S4).
    """
    import sqlite3

    con = sqlite3.connect(db_path)
    try:
        q = table_or_query
        if " " not in q.strip():
            q = f'SELECT * FROM "{q.strip()}"'
        cur = con.execute(q, tuple(params or ()))
        names = [d[0] for d in cur.description]
        # fetch one past the cap so overflow is detected without a COUNT(*)
        rows = cur.fetchmany(max_rows + 1)
    finally:
        con.close()
    if len(rows) > max_rows:
        raise ValueError(
            f"read_sqlite_table({table_or_query!r}) exceeds max_rows={max_rows}: "
            "this reader materializes driver-side and is for small dimension "
            "tables only. Ingest large tables to parquet and use "
            "read_parquet_table() instead, or pass a higher max_rows explicitly."
        )
    if not rows:
        # empty: all-string schema keeps the shape usable
        schema = ", ".join(f"`{n}` string" for n in names)
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(rows, names)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """JSON-lines scan (north-star source: the interchange format LLM
    curation pipelines actually ingest — one document object per line).

    Schema is REQUIRED (never inferred: inference scans the data twice
    and locks in whatever the first files happened to contain).
    PERMISSIVE mode lands malformed lines in ``corrupt_col`` instead of
    failing the task — the multimodal module's corrupt-media contract:
    bad input is a row you can count and quarantine, not a dead job.
    Scale shape: json-lines splits by newline, so a single huge file
    still fans out across tasks (unlike multiline JSON).
    """
    schema = _with_corrupt_col(schema, corrupt_col)
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def _with_corrupt_col(schema: T.StructType | str, corrupt_col: str) -> T.StructType:
    """Schema + the corrupt-record column, WITHOUT mutating the caller's
    StructType (StructType.add appends in place and returns self — a
    caller reusing its schema object for a sink or validation would
    otherwise find the quarantine column silently injected)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if corrupt_col in schema.fieldNames():
        return schema
    return T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType(), True)]
    )


def _byte_conf(spark: SparkSession, key: str, default: str) -> int:
    """A byte-suffixed Spark conf value ("128MB", "4m", "134217728b") as
    an int, via the same JVM parser Spark itself uses."""
    raw = spark.conf.get(key, default)
    try:
        return int(raw)
    except ValueError:
        return int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
        )


def scan_split_estimate(df: DataFrame, cap: int) -> int:
    """Estimated SCAN partition count of a file-sourced DataFrame from
    its FILE INDEX — never via ``df.rdd.getNumPartitions()``, which
    forces a full plan-to-RDD translation per call and pins the split
    decision before AQE sees it (r16 verdict item 4 / r17 item 7).

    Applies Spark's own split-packing arithmetic
    (``FilePartition.maxSplitBytes``): every file is charged
    ``openCostInBytes`` on top of its length, the per-split budget is
    ``min(maxPartitionBytes, max(openCost, totalBytes/minPartitionNum))``,
    and the estimate is ``ceil(totalCharged / budget)``.  Exact packing
    can differ by ±1 per large file, which is irrelevant to the gate
    this feeds (``estimate < defaultParallelism`` → fan out a
    single-row-group local scan; a production-scale input blows past the
    cap immediately).  Short-circuits at ``cap``: file counting stops as
    soon as the charged bytes already prove ``>= cap`` partitions, so a
    100 TB table costs a handful of size lookups, not a full stat sweep.

    The gate this serves assumes upstream writers produce roughly even
    splits (the r16 ADVICE note): a multi-partition-but-skewed input is
    not respread — that is the documented contract, same as before.

    ``cap`` is returned for a non-file relation (no input files —
    e.g. a checkpointed intermediate), i.e. "don't respread": the gate
    exists for raw single-row-group parquet scans only.
    """
    import math
    import os as _os
    from urllib.parse import urlparse

    files = df.inputFiles()
    if not files:
        return cap
    spark = df.sparkSession
    max_split = _byte_conf(spark, "spark.sql.files.maxPartitionBytes", "128MB")
    open_cost = _byte_conf(spark, "spark.sql.files.openCostInBytes", "4MB")
    stop_at = cap * max_split  # charged bytes that already prove >= cap
    # every file is charged >= open_cost, so a large-enough file COUNT
    # alone proves the bound without statting anything
    if open_cost > 0 and len(files) >= math.ceil(stop_at / open_cost):
        return cap
    total = 0
    jvm_fs = None
    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme in ("file", ""):
            try:
                total += _os.path.getsize(parsed.path) + open_cost
            except OSError:
                total += open_cost
        else:
            # metadata-only Hadoop FS lookup (object stores / HDFS)
            jvm = spark._jvm
            jpath = jvm.org.apache.hadoop.fs.Path(uri)
            if jvm_fs is None:
                jvm_fs = jpath.getFileSystem(
                    spark._jsc.hadoopConfiguration()
                )
            total += jvm_fs.getFileStatus(jpath).getLen() + open_cost
        if total >= stop_at:
            return cap
    budget = min(max_split, max(open_cost, total // max(1, cap)))
    return max(1, math.ceil(total / max(1, budget)))
