#!/usr/bin/env python3
"""Local mirror of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/oracle_check.py [sfDir] [outDir]

Runs nothing itself — expects `graft.Verify` to have populated outDir
(spark results + oracle_sql.json + failed_queries.json). First prints every
query Verify recorded as failed; any listed failure fails the check. Then,
for each query with an oracle: loads the Spark parquet result, runs the
oracle SQL in DuckDB over the same sfDir tables, sorts
columns by name and rows by all columns, and compares values exactly
(with a near-miss report for floats so rounding bugs are diagnosable).

Dev tool only — the engine itself has no Python dependency.
"""
import json
import math
import sys

import duckdb
import pyarrow  # noqa: F401  (forces duckdb .arrow() support)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def type_class(t):
    """Collapse an Arrow type to the equivalence class the driver's value
    hasher is sensitive to. Values of two types in the SAME class serialize
    identically (int64 42 and int32 42 both hash as "42"); values in
    DIFFERENT classes can differ even when numerically equal (HUGEINT /
    decimal128 Decimal(42) hashes as "Decimal(42)" vs int64's "42" — the
    exact bug class that slipped through round 3's value-only compare on
    q104/q105/q106)."""
    import pyarrow.types as pt
    if pt.is_integer(t):
        return "int"
    if pt.is_floating(t):
        return "float"
    if pt.is_decimal(t):
        return f"decimal(scale={t.scale})"
    if pt.is_string(t) or pt.is_large_string(t):
        return "string"
    if pt.is_boolean(t):
        return "bool"
    if pt.is_date(t):
        return "date"
    if pt.is_timestamp(t):
        return "timestamp"
    if pt.is_binary(t) or pt.is_large_binary(t):
        return "binary"
    if pt.is_list(t) or pt.is_large_list(t) or pt.is_fixed_size_list(t):
        return f"list<{type_class(t.value_type)}>"
    if pt.is_struct(t):
        inner = ",".join(
            f"{t.field(i).name}:{type_class(t.field(i).type)}"
            for i in range(t.num_fields))
        return f"struct<{inner}>"
    if pt.is_map(t):
        return f"map<{type_class(t.key_type)},{type_class(t.item_type)}>"
    if pt.is_null(t):
        return "null"
    return str(t)


def arrow_type_diffs(s_schema, o_schema):
    """Per-column type-class mismatches between the Spark parquet result
    and the DuckDB oracle result (column names already verified equal)."""
    s_types = {f.name: type_class(f.type) for f in s_schema}
    o_types = {f.name: type_class(f.type) for f in o_schema}
    # "null" anywhere in either type is a wildcard, not just top-level:
    # an all-empty-array oracle column infers list<null> in Arrow while
    # Spark's parquet carries list<double> — both serialize '[]'
    # identically in the driver's hasher
    return [(c, s_types[c], o_types[c])
            for c in sorted(s_types)
            if c in o_types and s_types[c] != o_types[c]
            and "null" not in s_types[c] and "null" not in o_types[c]]


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    with open(f"{out_dir}/failed_queries.json") as f:
        failed = json.load(f)
    for name, msg in sorted(failed.items()):
        print(f"FAIL {name}: Verify: {msg}")

    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        try:
            s_tbl = con.execute(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").arrow()
            s_cols = s_tbl.schema.names
            s_rows = [tuple(r.values()) for r in s_tbl.to_pylist()]
            o_tbl = con.execute(sql).arrow()
            o_cols = o_tbl.schema.names
            o_rows = [tuple(r.values()) for r in o_tbl.to_pylist()]
        except Exception as e:
            print(f"FAIL {name}: error: {e}")
            n_fail += 1
            continue

        if sorted(s_cols) != sorted(o_cols):
            print(f"FAIL {name}: columns spark={sorted(s_cols)} oracle={sorted(o_cols)}")
            n_fail += 1
            continue
        # Driver-parity gate: the driver hashes SERIALIZED values, so a
        # type-class mismatch (DuckDB HUGEINT/decimal vs Spark int64) fails
        # there even when every value is numerically equal. Fail it here too.
        t_diffs = arrow_type_diffs(s_tbl.schema, o_tbl.schema)
        if t_diffs:
            for c, st, ot in t_diffs:
                print(f"FAIL {name}: arrow-type {c}: spark={st} oracle={ot}"
                      f" (driver hash would mismatch; CAST the oracle column)")
            n_fail += 1
            continue
        s_ix = [s_cols.index(c) for c in sorted(s_cols)]
        o_ix = [o_cols.index(c) for c in sorted(o_cols)]
        s_sorted = sorted([tuple(norm(r[i]) for i in s_ix) for r in s_rows],
                          key=lambda r: tuple(str(x) for x in r))
        o_sorted = sorted([tuple(norm(r[i]) for i in o_ix) for r in o_rows],
                          key=lambda r: tuple(str(x) for x in r))
        if len(s_sorted) != len(o_sorted):
            print(f"FAIL {name}: rows spark={len(s_sorted)} oracle={len(o_sorted)}")
            n_fail += 1
            continue
        bad = None
        for i, (a, b) in enumerate(zip(s_sorted, o_sorted)):
            if a != b:
                bad = (i, a, b)
                break
        if bad is None:
            print(f"PASS {name} ({len(s_sorted)} rows)")
            n_pass += 1
        else:
            i, a, b = bad
            print(f"FAIL {name}: first diff at sorted row {i}")
            print(f"  cols   {sorted(s_cols)}")
            print(f"  spark  {a}")
            print(f"  oracle {b}")
            for x, y, c in zip(a, b, sorted(s_cols)):
                if x != y:
                    if isinstance(x, float) and isinstance(y, float):
                        print(f"    {c}: {x!r} vs {y!r} (delta {abs(x - y):.3e})")
                    else:
                        print(f"    {c}: {x!r} vs {y!r}")
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {len(failed)} failed in Verify")
    sys.exit(1 if n_fail or failed else 0)


if __name__ == "__main__":
    main()
