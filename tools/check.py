"""Local correctness harness — mimics the driver's DuckDB-oracle compare.

Usage:
    python tools/check.py [name ...]       # default: all registered queries
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 python tools/check.py

For each query: run the Spark plan and the DuckDB oracle, compare
row-count, schema (normalized type names), TYPE FAMILIES (strict: DuckDB
HUGEINT/DECIMAL are NOT interchangeable with BIGINT — a driver that hashes
through pandas/Arrow sees sum(CASE…) as HUGEINT→float64 and the hash flips,
which is exactly how tpch_q12 failed in round 2), and an order-insensitive
value hash (columns sorted by name, rows sorted, floats normalized). Strict
float equality is asserted after round(9) normalization — if this passes,
any reasonable driver hash also passes.
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF", "/root/testdata/sf0.01")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 9)
        return repr(r + 0.0)  # -0.0 -> 0.0
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{norm_cell(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return repr(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)
    return [c for c in sorted(cols)], out


def spark_family(dt) -> str:
    """Canonical type family for a Spark DataType."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "i"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "f"
    if isinstance(dt, T.DecimalType):
        return "dec"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.BinaryType):
        return "bytes"
    if isinstance(dt, T.ArrayType):
        return f"list<{spark_family(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{spark_family(dt.keyType)},{spark_family(dt.valueType)}>"
    if isinstance(dt, T.StructType):
        inner = ",".join(
            f"{f.name.lower()}:{spark_family(f.dataType)}" for f in dt.fields
        )
        return f"struct<{inner}>"
    return str(dt)


_DUCK_FAMILIES = {
    "TINYINT": "i", "SMALLINT": "i", "INTEGER": "i", "BIGINT": "i",
    "UTINYINT": "i", "USMALLINT": "i", "UINTEGER": "i", "UBIGINT": "i",
    # HUGEINT deliberately NOT "i": the driver's hash flips on it.
    "HUGEINT": "hugeint", "UHUGEINT": "hugeint",
    "FLOAT": "f", "DOUBLE": "f",
    "VARCHAR": "str", "BOOLEAN": "bool", "DATE": "date", "BLOB": "bytes",
    "TIMESTAMP": "ts", "TIMESTAMP_S": "ts", "TIMESTAMP_MS": "ts",
    "TIMESTAMP_NS": "ts", "TIMESTAMP WITH TIME ZONE": "ts",
    "INTERVAL": "interval", "UUID": "str",
}


def duck_family(type_str: str) -> str:
    """Canonical type family for a DuckDB logical type string."""
    s = str(type_str).strip()
    if s.endswith("[]"):
        return f"list<{duck_family(s[:-2])}>"
    up = s.upper()
    if up in _DUCK_FAMILIES:
        return _DUCK_FAMILIES[up]
    if up.startswith("DECIMAL"):
        return "dec"
    if up.startswith("STRUCT(") and s.endswith(")"):
        # split top-level "name TYPE" pairs on commas at depth 0
        inner, parts, depth, cur = s[7:-1], [], 0, ""
        for ch in inner:
            if ch == "," and depth == 0:
                parts.append(cur)
                cur = ""
            else:
                depth += ch in "(<["
                depth -= ch in ")>]"
                cur += ch
        parts.append(cur)
        fields = []
        for p in parts:
            nm, _, ty = p.strip().partition(" ")
            nm = nm.strip('"').lower()
            fields.append(f"{nm}:{duck_family(ty)}")
        return f"struct<{','.join(fields)}>"
    if up.startswith("MAP(") and s.endswith(")"):
        inner, depth, cur, parts = s[4:-1], 0, "", []
        for ch in inner:
            if ch == "," and depth == 0:
                parts.append(cur)
                cur = ""
            else:
                depth += ch in "(<["
                depth -= ch in ")>]"
                cur += ch
        parts.append(cur)
        return f"map<{duck_family(parts[0])},{duck_family(parts[1])}>"
    return up


def type_mismatches(scols, sschema, dcols, dtypes):
    """Strict per-column family compare (matched by lowercase name)."""
    sfam = {f.name.lower(): spark_family(f.dataType) for f in sschema.fields}
    dfam = {c.lower(): duck_family(t) for c, t in zip(dcols, dtypes)}
    bad = []
    for col in sorted(set(sfam) & set(dfam)):
        if sfam[col] != dfam[col]:
            bad.append(f"{col}: spark={sfam[col]} duckdb={dfam[col]}")
    return bad


def codegen_counters(spark) -> tuple[int, float]:
    """(Janino compiles, compile seconds) so far in this JVM."""
    jvm = spark._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return (
        metrics.METRIC_COMPILATION_TIME().getCount(),
        gen.compileTime() / 1e9,
    )


def main(names):
    from repcheck_data_integration_spark import registry
    from repcheck_data_integration_spark.session import get_spark

    registry.load_all_modules()
    todo = names or sorted(registry.QUERIES)
    # SPARK_GRAFT_CHECK_DRIVER_PARITY=1 re-runs the gate under the DRIVER's
    # session shape: inferTimestampNTZ left at its default (true), so the
    # fixture's nano timestamps surface as TIMESTAMP_NTZ exactly as they do
    # in CORRECTNESS_r{N}.json runs. Round 3's win_session_features crash
    # was invisible to the builder-config gate by construction; this mode
    # exists so that failure class can't ship again.
    parity = os.environ.get("SPARK_GRAFT_CHECK_DRIVER_PARITY") == "1"
    spark = get_spark(
        "check-driver-parity" if parity else "check",
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_CHECK_PARTS", "8")),
        extra_conf=(
            {"spark.sql.parquet.inferTimestampNTZ.enabled": "true"}
            if parity
            else None
        ),
    )
    if parity:
        print("[driver-parity mode: inferTimestampNTZ=true]")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    codegen = codegen_counters(spark)
    n_pass = n_fail = n_rowsonly = 0
    rowsonly_names: list[str] = []
    for name in todo:
        if name not in registry.QUERIES:
            print(f"[SKIP] {name}: not registered")
            continue
        # plan each query against an empty cache, as window_audit does: an
        # earlier query's persisted subtree would otherwise be substituted
        # into this plan (the round-8 hazard), and no query releases its own
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            sdf = registry.QUERIES[name](spark, SF_DIR)
            srows = [tuple(r) for r in sdf.collect()]
            scols = list(sdf.columns)
        except Exception as e:
            print(f"[FAIL] {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in registry.ORACLE:
            print(f"[ROWS] {name}: {len(srows)} rows (no oracle) "
                  f"({time.time()-t0:.1f}s)")
            n_rowsonly += 1
            rowsonly_names.append(name)
            continue
        try:
            rel = con.sql(registry.ORACLE[name])
            dcols = list(rel.columns)
            dtypes = list(rel.types)
            drows = rel.fetchall()
        except Exception as e:
            print(f"[FAIL] {name}: duckdb error: {e}")
            n_fail += 1
            continue
        ok = True
        msgs = []
        if len(srows) != len(drows):
            ok = False
            msgs.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(c.lower() for c in scols) != sorted(c.lower() for c in dcols):
            ok = False
            msgs.append(f"columns spark={sorted(scols)} duckdb={sorted(dcols)}")
        tbad = type_mismatches(scols, sdf.schema, dcols, dtypes)
        if tbad:
            ok = False
            msgs.append("type families: " + "; ".join(tbad))
        if ok:
            _, s_canon = canon_rows(scols, srows)
            _, d_canon = canon_rows(dcols, drows)
            if s_canon != d_canon:
                ok = False
                diff = [
                    (a, b) for a, b in zip(s_canon, d_canon) if a != b
                ][:3]
                msgs.append(f"values differ; first diffs: {diff}")
        if ok:
            print(f"[PASS] {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
        else:
            print(f"[FAIL] {name}: " + "; ".join(msgs))
            n_fail += 1

    print(f"\n{n_pass} pass, {n_rowsonly} rows-only, {n_fail} fail")
    # shows whether the codegen cache holds across the run: a class it
    # evicted compiles again when a later query needs it
    n_compiles, compile_s = (
        b - a for a, b in zip(codegen, codegen_counters(spark))
    )
    print(f"codegen: {n_compiles} Janino compiles, {compile_s:.1f}s compile time")
    if rowsonly_names:
        # auditable by name (VERDICT r6 #7): each has a why-no-oracle +
        # unit-test row in COVERAGE.md "Rows-only registry"
        print("rows-only (see COVERAGE.md 'Rows-only registry'): "
              + ", ".join(sorted(rowsonly_names)))
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
