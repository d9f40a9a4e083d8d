"""Local replica of the driver's duckdb-oracle correctness gate.

Runs every `queries()` entry from __spark_entry__.py on Spark and its
`oracle_sql()` twin on DuckDB over the same parquet tables, then
compares row count, column names, and an order-insensitive value hash
(columns sorted by name, rows sorted, values canonicalized). Exact
equality here implies a match under any reasonable hashing scheme the
driver uses.

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def canon(v):
    """Canonicalize a value for cross-engine comparison."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if hasattr(v, "isoformat"):  # date/datetime
        return v.isoformat()
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


_DUCK_INT = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
    "UTINYINT", "USMALLINT", "UINTEGER",
}
# HUGEINT/UBIGINT/DECIMAL all materialize as float64 in pandas —
# the exact class that silently diverged from Spark int64 in r6's
# embedding_gram_matrix (and r5's pg_subscript_textual before it).
_DUCK_FLOAT = {"FLOAT", "DOUBLE", "HUGEINT", "UHUGEINT", "UBIGINT"}


def duck_kind(type_name: str) -> str:
    """pandas-dtype class DuckDB's .df() gives this declared type."""
    t = type_name.upper()
    if t in _DUCK_INT:
        return "int"
    if t in _DUCK_FLOAT or t.startswith("DECIMAL"):
        return "float"
    if t == "BOOLEAN":
        return "bool"
    if t == "DATE" or t.startswith("TIMESTAMP"):
        return "datetime"
    return "other"


def spark_kind(simple: str) -> str:
    """pandas-dtype class Spark's toPandas() gives this column type.

    Spark decimal becomes a pandas *object* column of Decimal — never
    equal to DuckDB's float64 under a dtype-sensitive hasher — so it
    gets its own class and always FAILs (cast to double in the query).
    """
    s = simple
    if s in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if s in ("float", "double"):
        return "float"
    if s.startswith("decimal"):
        return "decimal"
    if s == "boolean":
        return "bool"
    if s in ("date", "timestamp", "timestamp_ntz"):
        return "datetime"
    return "other"


def dtype_mismatches(spark_schema, con, oracle_sql):
    """Per-column dtype-class diffs between Spark and the oracle.

    The driver hashes pandas frames per column (factorize), so a
    value-identical result still FAILS there when one engine types a
    column int64 and the other float64. Compare the *declared* types
    (Spark schema vs DuckDB DESCRIBE) mapped to their pandas classes.
    """
    skinds = {f.name: spark_kind(f.dataType.simpleString())
              for f in spark_schema.fields}
    desc = con.execute(
        "DESCRIBE " + oracle_sql.rstrip().rstrip(";")
    ).fetchall()
    dkinds = {r[0]: duck_kind(r[1]) for r in desc}
    bad = []
    for col in sorted(set(skinds) & set(dkinds)):
        sk, dk = skinds[col], dkinds[col]
        if sk == dk:
            continue
        # numeric/bool class drift is exactly what the driver's
        # hasher sees; datetime-vs-other etc. already fails on values
        if {sk, dk} & {"int", "float", "bool", "decimal"}:
            bad.append(f"{col}: spark={sk} duckdb={dk}")
    return bad


def df_to_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))
    return [cols[i] for i in order], out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry_mod
    from citus_spark.session import get_spark

    spark = get_spark("oracle_check")
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            n_fail += 1
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (rows-only check) "
                  f"[{time.time()-t0:.1f}s]")
            n_rows_only += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            n_fail += 1
            failures.append(name)
            continue
        ok = True
        msgs = []
        # The DRIVER's hasher (pandas factorize path) cannot hash
        # list/dict cells — r5's pg_subscript_textual erred with
        # `unhashable type: 'list'` despite passing here (canon()
        # tuple-izes lists). Reject non-scalar cells up front so the
        # local gate is at least as strict as the driver.
        bad_cols = sorted({
            scols[i]
            for r in srows
            for i, v in enumerate(r)
            if isinstance(v, (list, dict, tuple))
        })
        if bad_cols:
            ok = False
            msgs.append(
                f"non-scalar result columns {bad_cols} — the driver's "
                "value hasher cannot hash these; scalar-ize the query"
            )
        if len(srows) != len(drows):
            ok = False
            msgs.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            ok = False
            msgs.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
        if ok:
            try:
                bad_dtypes = dtype_mismatches(sdf.schema, con, oracles[name])
            except Exception as e:
                bad_dtypes = [f"(DESCRIBE failed: {e})"]
            if bad_dtypes:
                ok = False
                msgs.append(
                    "dtype drift (driver hasher is dtype-sensitive): "
                    + "; ".join(bad_dtypes)
                )
        if ok:
            _, s = df_to_rows(scols, srows)
            _, d = df_to_rows(dcols, drows)
            if s != d:
                ok = False
                ndiff = sum(1 for a, b in zip(s, d) if a != b)
                msgs.append(f"values differ in {ndiff}/{len(s)} rows")
                for a, b in list(zip(s, d))[:200]:
                    if a != b:
                        msgs.append(f"  spark : {a}")
                        msgs.append(f"  duckdb: {b}")
                        break
        if ok:
            print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
        else:
            print(f"FAIL  {name}: " + "; ".join(msgs))
            n_fail += 1
            failures.append(name)

    print(f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only")
    if failures:
        print("failing:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
