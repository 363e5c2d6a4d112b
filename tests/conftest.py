from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from omics_data_integration_utilities_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("omics-spark-tests", cpus=8, shuffle_partitions=8)
    yield s
    # session-exit hygiene (r13 verdict item 8): close the final live
    # generation of registry-managed indexes/layout dirs WHILE the
    # session can still drop their catalog tables
    from omics_data_integration_utilities_spark.plans.registry_docs import (
        cleanup_registry_state,
    )

    cleanup_registry_state()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


def register_duck_views(con, sf_dir: str) -> None:
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )


def normalize_rows(columns, rows, float_digits: int = 6):
    """Driver-compare emulation: sort columns by name, canonicalize values,
    return a sorted multiset of row tuples."""
    import datetime
    import math

    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def canon(v):
        if v is None:
            return ("null",)
        if isinstance(v, bool):
            return ("b", v)
        if isinstance(v, float):
            if math.isnan(v):
                return ("nan",)
            return ("f", round(v, float_digits))
        if isinstance(v, int):
            return ("i", v)
        if isinstance(v, datetime.datetime):
            return ("ts", v.replace(tzinfo=None).isoformat())
        try:
            import decimal

            if isinstance(v, decimal.Decimal):
                return ("f", round(float(v), float_digits))
        except Exception:
            pass
        return ("s", str(v))

    out = [tuple(canon(r[i]) for i in order) for r in rows]
    return sorted(out)


def _spark_type_class(simple: str) -> str:
    """Collapse a Spark simpleString dtype to the class the driver's
    value-hash distinguishes after a pandas/arrow fetch."""
    s = simple.lower()
    if s.startswith(("array", "map", "struct")):
        return "nested"
    if s.startswith("decimal"):
        return "f"  # Spark decimals collect as Decimal → canon as float
    if s in ("double", "float"):
        return "f"
    if s in ("tinyint", "smallint", "int", "bigint", "long"):
        return "i"
    if s == "boolean":
        return "b"
    if s.startswith("timestamp"):
        return "ts"
    if s == "date":
        return "date"
    return "s"


def _duck_type_class(arrow_type) -> str:
    """Same collapse for the DuckDB arrow schema.  The one driver trap:
    integer aggregates (sum of BIGINT → HUGEINT → arrow decimal128(38,0))
    become float64 in a pandas fetch, so an UNCAST integer sum lands in
    class 'f' while the Spark side stays 'i' — the r7/r8 doc_pack_chunks
    hash-red.  Oracles must CAST integer sums back to BIGINT."""
    import pyarrow as pa
    import pyarrow.types as pat

    t = arrow_type
    if pat.is_list(t) or pat.is_large_list(t) or pat.is_struct(t) or pat.is_map(t):
        return "nested"
    if pat.is_decimal(t):
        return "f"  # any decimal (incl. HUGEINT's decimal128(38,0)) → float64
    if pat.is_floating(t):
        return "f"
    if pat.is_integer(t):
        return "i"
    if pat.is_boolean(t):
        return "b"
    if pat.is_timestamp(t):
        return "ts"
    if pat.is_date(t):
        return "date"
    return "s"


def compare_query_to_oracle(spark, duck, name, fn, sql, sf_dir):
    """Run the Spark query and the DuckDB oracle; assert multiset equality."""
    sdf = fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    register_duck_views(duck, sf_dir)
    res = duck.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), (
        f"{name}: column mismatch spark={sorted(scols)} duck={sorted(dcols)}"
    )
    # Driver-compare emulation ALSO needs type-class alignment: the driver
    # fetches through pandas/arrow, where DuckDB HUGEINT (uncast integer
    # sums) becomes float64 while Spark stays int64 — a hash mismatch on
    # numerically identical values that fetchall()-based compares miss.
    duck_schema = duck.execute(
        f"SELECT * FROM ({sql.strip().rstrip(';')}) AS __tc LIMIT 0"
    ).arrow().schema
    d_class = {f.name: _duck_type_class(f.type) for f in duck_schema}
    s_class = {f.name: _spark_type_class(f.dataType.simpleString()) for f in sdf.schema.fields}
    bad = {
        c: (s_class[c], d_class[c])
        for c in s_class
        if c in d_class and s_class[c] != d_class[c]
    }
    assert not bad, (
        f"{name}: dtype-class mismatch (spark, duck) per column: {bad} — "
        "cast the oracle (or the Spark side) so both fetch as the same "
        "python type; uncast DuckDB integer sums are HUGEINT → float64"
    )
    sn = normalize_rows(scols, srows)
    dn = normalize_rows(dcols, drows)
    if sn != dn:
        only_s = [r for r in sn if r not in set(dn)][:5]
        only_d = [r for r in dn if r not in set(sn)][:5]
        raise AssertionError(
            f"{name}: value mismatch rows spark={len(sn)} duck={len(dn)}\n"
            f"  spark-only: {only_s}\n  duck-only: {only_d}"
        )
    return len(sn)


def jobs_fired(spark, fn) -> int:
    """Spark jobs ``fn()`` fires, counted through a job group the way
    perfbench/worker.py does.  The status tracker is fed by the listener
    bus, so the bus is drained before the count is read."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@contextlib.contextmanager
def broadcasts_off(spark):
    """Switch off broadcast joins, static and AQE, for the block: the
    scale regime, where every join side is past the broadcast threshold.
    The session's previous values are restored on exit."""
    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    prev = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
