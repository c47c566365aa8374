"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark AND its
oracle_sql() twin on DuckDB (same parquet tables registered as views),
then compares: row count, schema width, and order-insensitive values
(columns sorted by name, rows sorted). Exact match required for
non-floats; floats are compared exactly first and with 1e-9 tolerance
second so we can tell a hash-risk from a real bug.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from tastytrade_sdk_spark.session import get_spark
from tastytrade_sdk_spark.sources.tables import TABLE_NAMES

import __spark_entry__ as entrymod


def type_tag(t: str) -> str:
    """Collapse engine-specific type names into comparable families.

    The driver serializes results via Arrow-ish value rendering, so a
    DuckDB HUGEINT (arrow decimal128(38,0)) hashes differently from
    Spark's BIGINT even when the values are numerically equal. DuckDB
    sum(INTEGER) returns HUGEINT, so any un-cast integer sum in an
    oracle is a latent driver-hash failure — this check catches it
    locally (the pack_sequences r2 red row was exactly this)."""
    t = str(t).lower()
    if "decimal" in t or "hugeint" in t:
        return "decimal"
    if t in ("int8", "int16", "int32", "int64", "uint8", "uint16",
             "uint32", "uint64", "bigint", "int", "integer", "smallint",
             "tinyint", "long", "short", "byte"):
        return "int"
    if t in ("float", "double", "float32", "float64", "halffloat", "real"):
        return "float"
    if "bool" in t:
        return "bool"
    if "timestamp" in t:
        return "ts"
    if "date" in t:
        return "date"
    if "string" in t or "varchar" in t:
        return "str"
    if t.startswith("list") or t.startswith("array") or t.endswith("[]"):
        return "list"
    return t


def type_issues(spark_schema, duck_cols, duck_types):
    """Compare Spark column type families vs DuckDB's logical result
    types (rel.types — available from the plan, no re-execution)."""
    issues = []
    stypes = {f.name: type_tag(f.dataType.simpleString())
              for f in spark_schema.fields}
    for name, dtype in zip(duck_cols, duck_types):
        dtag = type_tag(dtype)
        stag = stypes.get(name)
        if stag is not None and dtag != stag:
            issues.append(
                f"TYPES col {name}: duck={dtype}({dtag}) vs "
                f"spark({stag}) — driver hash would diverge; add a cast"
            )
        elif dtag == "decimal" and stag == "decimal":
            # r4 pricing_summary: both engines emitted DECIMAL(38,10),
            # values byte-identical, local gate green — yet the DRIVER
            # hash-mismatched because its fetch path canonicalizes
            # DECIMAL differently per engine (float64 via DuckDB,
            # Python Decimal via Spark). DECIMAL output columns are
            # banned outright: decimal arithmetic stays internal, cast
            # to DOUBLE after the round on both sides.
            issues.append(
                f"TYPES col {name}: DECIMAL output on both engines — "
                f"driver-hash hazard (r4 pricing_summary); cast to "
                f"DOUBLE after the round on both sides"
            )
    return issues


def norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # the driver hashes SERIALIZED values, where -0.0 != 0.0 even
        # though they compare == in Python; surface the sign bit so a
        # local pass here implies a driver hash match
        if v == 0.0 and math.copysign(1.0, v) < 0:
            return "-0.0"
        return v
    return v


def compare(name, spark_rows, duck_rows, spark_cols, duck_cols):
    issues = []
    if sorted(spark_cols) != sorted(duck_cols):
        issues.append(f"SCHEMA cols differ: spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        return issues
    if len(spark_rows) != len(duck_rows):
        issues.append(f"ROWCOUNT spark={len(spark_rows)} duck={len(duck_rows)}")
    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    dorder = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])

    def key(row, idx):
        return tuple(str(norm_cell(row[i])) for i in idx)

    s_sorted = sorted([tuple(norm_cell(r[i]) for i in order) for r in spark_rows], key=lambda t: tuple(str(x) for x in t))
    d_sorted = sorted([tuple(norm_cell(r[i]) for i in dorder) for r in duck_rows], key=lambda t: tuple(str(x) for x in t))
    n_exact = 0
    n_close = 0
    n_diff = 0
    example = None
    for sr, dr in zip(s_sorted, d_sorted):
        if sr == dr:
            n_exact += 1
            continue
        close = True
        for a, b in zip(sr, dr):
            if a == b:
                continue
            if isinstance(a, float) and isinstance(b, float) and abs(a - b) <= 1e-9 * max(1, abs(a), abs(b)):
                continue
            close = False
            break
        if close:
            n_close += 1
        else:
            n_diff += 1
            if example is None:
                example = (sr, dr)
    if n_close or n_diff:
        issues.append(f"VALUES exact={n_exact} close={n_close} diff={n_diff}")
        if example:
            issues.append(f"  example spark={example[0]}")
            issues.append(f"  example duck ={example[1]}")
    return issues


def run_gate(spark, sf_dir, only=None, verbose=True):
    """Run every declared query against its DuckDB oracle twin.

    Returns {name: [issue, ...]} for failing queries only (empty dict
    == full green). Reusable from pytest (tests/test_full_gate.py)
    with the shared session fixture, and from main() below.
    """
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failing: dict[str, list[str]] = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failing[name] = [f"SPARK ERROR {e}"]
            if verbose:
                print(f"✗ {name}: SPARK ERROR {e}")
            continue
        if name not in oracles:
            if verbose:
                print(f"~ {name}: rows-only ({len(spark_rows)} rows, "
                      f"{time.time()-t0:.1f}s) — no oracle")
            continue
        try:
            rel = con.sql(oracles[name])
            duck_cols = rel.columns
            tissues = type_issues(sdf.schema, rel.columns, rel.types)
            duck_rows = rel.fetchall()
        except Exception as e:
            failing[name] = [f"DUCKDB ERROR {str(e)[:300]}"]
            if verbose:
                print(f"✗ {name}: DUCKDB ERROR {str(e)[:300]}")
            continue
        issues = tissues + compare(
            name, spark_rows, duck_rows, spark_cols, duck_cols
        )
        if issues:
            failing[name] = issues
            if verbose:
                print(f"✗ {name} ({len(spark_rows)} rows, {time.time()-t0:.1f}s)")
                for i in issues:
                    print(f"    {i}")
        elif verbose:
            print(f"✓ {name} ({len(spark_rows)} rows, {time.time()-t0:.1f}s)")
    return failing


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check", cpus=8)
    failing = run_gate(spark, sf_dir, only=only)
    print(f"\n{'FAIL' if failing else 'PASS'}: {len(failing)} failing")
    sys.exit(1 if failing else 0)


if __name__ == "__main__":
    main()
