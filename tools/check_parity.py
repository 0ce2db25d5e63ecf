"""Local replica of the driver's correctness gate.

Runs every registered query in Spark AND its DuckDB oracle on the same
parquet, compares row count, column names, column type classes, and
order-insensitive values (columns sorted by name, rows sorted, exact
equality). Usage:

    python tools/check_parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from neo4j_dynagraph_spark import get_spark  # noqa: E402
from neo4j_dynagraph_spark.queries import REGISTRY  # noqa: E402
from neo4j_dynagraph_spark.sources.tables import TABLES  # noqa: E402


def norm(v):  # noqa: ANN001
    if isinstance(v, float):
        return round(v, 9)
    if hasattr(v, "timestamp"):  # datetime
        return str(v)
    return v


def rowset(cols, rows):  # noqa: ANN001
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


# Spark ``DataType.typeName()`` and DuckDB type ids, by the class a
# result hash sees. Unlisted names are their own class: HUGEINT reads
# as float through pandas while ``fetchall()`` returns a Python int
# equal to Spark's long, so it must never pass for integral.
_TYPE_CLASS = {
    **dict.fromkeys(
        "byte short integer long tinyint smallint bigint utinyint "
        "usmallint uinteger ubigint".split(),
        "integral",
    ),
    **dict.fromkeys(["float", "double"], "floating"),
    "varchar": "string",
    "timestamp_ntz": "timestamp",
    "timestamp with time zone": "timestamp",
    "array": "list",
    "binary": "blob",
}


def _type_class(name: str) -> str:
    return _TYPE_CLASS.get(name, name)


def type_problems(schema, cols, types) -> list[str]:  # noqa: ANN001
    """Columns whose Spark type (``schema``) and DuckDB type (``cols``
    named, ``types`` in order) fall in different classes."""
    spark_t = {f.name: f.dataType.typeName() for f in schema.fields}
    return [
        f"type {c}: spark={spark_t[c]} oracle={t}"
        for c, t in zip(cols, types)
        if c in spark_t and _type_class(spark_t[c]) != _type_class(t.id)
    ]


def compare_query(spark, con, spec, sf_dir):  # noqa: ANN001
    """Run one registry entry in Spark and (when present) its DuckDB
    oracle; return (problems, n_rows); empty problems == pass.

    The comparison: row count, column-name set, the type class of
    each column, and order-insensitive exact values with columns
    sorted by name. Shared by the CLI gate below and the opt-in
    `pytest -m parity` suite so the graded window and the tail rows
    are re-proved by ONE protocol. Types are checked only when
    the frame carries a Spark ``schema`` (a collected stand-in with
    just ``columns`` and ``collect()`` is compared on values alone);
    the oracle's types come from the bound relation its rows are
    fetched from, so it runs once.
    """
    sdf = spec.fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    if spec.oracle is None:
        if not srows and not spec.empty_ok:
            return [f"{spec.name}: empty result (rows-only check)"], 0
        return [], len(srows)
    rel = con.sql(spec.oracle)
    ocols = rel.columns
    otypes = rel.types
    orows = rel.fetchall()
    problems = []
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={scols} oracle={ocols}")
    elif hasattr(sdf, "schema"):
        problems += type_problems(sdf.schema, ocols, otypes)
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if not problems:
        a, b = rowset(scols, srows), rowset(ocols, orows)
        if a != b:
            diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
            problems.append(f"values differ, first diffs {diff}")
    return problems, len(srows)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("parity-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    n_compared = 0
    for name, spec in REGISTRY.items():
        if only and name not in only:
            continue
        n_compared += 1
        t0 = time.time()
        try:
            problems, n_rows = compare_query(spark, con, spec, sf_dir)
        except Exception:
            print(f"FAIL {name}: ERROR\n{traceback.format_exc()}")
            failures.append(name)
            continue
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            kind = "match" if spec.oracle is not None else "(no oracle)"
            print(f"ok   {name}: rows={n_rows} {kind} [{time.time()-t0:.1f}s]")

    # Count only the queries actually compared this run: with a name
    # filter, "204/204 pass" would misreport a 10-query selection.
    print(f"\n{n_compared - len(failures)}/{n_compared} pass")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
