"""Result digests for the correctness check.

Both sides are normalised with the test suite's own driver-compare
emulation (``tests.conftest.normalize_rows`` plus its dtype-class
mapping), then reduced to a record of sorted column names, per-column
type class, row count and a SHA-256 of the normalised multiset.  Two
results agree when their records are equal.
"""

from __future__ import annotations

import hashlib

from tests.conftest import (
    _duck_type_class,
    _spark_type_class,
    normalize_rows,
    register_duck_views,
)


def _record(columns: list[str], classes: dict[str, str], rows: list[tuple]) -> dict:
    norm = normalize_rows(columns, rows)
    return {
        "columns": sorted(columns),
        "classes": dict(sorted(classes.items())),
        "rows": len(norm),
        "digest": hashlib.sha256(repr(norm).encode()).hexdigest(),
    }


def spark_record(df) -> dict:
    rows = [tuple(r) for r in df.collect()]
    classes = {f.name: _spark_type_class(f.dataType.simpleString()) for f in df.schema.fields}
    return _record(df.columns, classes, rows)


def duck_records(inputs_dir: str, sqls: dict[str, str]) -> dict[str, dict]:
    import duckdb

    con = duckdb.connect()
    try:
        register_duck_views(con, inputs_dir)
        out = {}
        for name, sql in sqls.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            schema = con.execute(f"SELECT * FROM ({sql.strip().rstrip(';')}) AS __tc LIMIT 0").arrow().schema
            out[name] = _record(cols, {f.name: _duck_type_class(f.type) for f in schema}, rows)
        return out
    finally:
        con.close()
