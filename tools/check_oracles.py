"""Local replica of the driver's correctness gate.

Runs every __spark_entry__ query at sf0.01 alongside its DuckDB oracle and
compares row count, column names, and an order-insensitive value hash
(columns sorted by name, every value stringified, rows sorted). Mirrors
the contract described in the driver docs so mismatches surface here
before the real run.

Usage: python tools/check_oracles.py [name ...]

A name that is not a registry query is an error: the tool prints it and
exits 2 before starting Spark, so a misspelt name cannot pass as an empty
sweep.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def norm_val(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if v != v:
            return "nan"
        # repr, NOT int-collapse: the r4 gate collapsed -0.0 and 0.0 to
        # "0", masking the bigram_pmi divergence the driver saw. Integral
        # floats stay "5.0" so an int-vs-double column mismatch (or a
        # negative-zero split) can never hash green here while red there.
        return repr(v)
    return str(v)


_CANON = {
    "tinyint": "int", "smallint": "int", "int": "int", "integer": "int",
    "bigint": "bigint", "int64": "bigint", "int32": "int", "hugeint": "hugeint",
    "float": "float", "real": "float", "double": "double",
    "string": "string", "varchar": "string",
    "boolean": "bool", "date": "date",
    "timestamp": "timestamp", "timestamp_ntz": "timestamp",
}


def canon_type(t: str) -> str:
    return _CANON.get(str(t).lower(), str(t).lower())


def spark_types(df) -> dict[str, str]:
    return {f.name: canon_type(f.dataType.simpleString()) for f in df.schema.fields}


def table_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(
        "\x1f".join(norm_val(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(canon).encode()).hexdigest()[:16]
    return h, len(rows)


def main() -> None:
    import __spark_entry__ as entry
    from ocr_cezam_spark.session import get_spark

    qs, oracles = entry.queries(), entry.oracle_sql()
    only = set(sys.argv[1:])
    unknown = sorted(only - qs.keys())
    if unknown:
        print("unknown query names:", " ".join(unknown))
        sys.exit(2)
    spark = get_spark(app="oracle_check", master="local[8]", shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            cols = df.columns
            stypes = spark_types(df)
            rows = [tuple(r) for r in df.collect()]
            spark_hash, spark_n = table_hash(cols, rows)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            continue
        if name not in oracles:
            # rows-only check must still be a CHECK: an approximate
            # operator silently regressing to an empty result is a
            # failure, not a green "weak" line
            if spark_n <= 0:
                print(f"FAIL  {name}: rows-only query returned {spark_n} rows")
                failures.append(name)
            else:
                print(f"weak  {name}: rows={spark_n} cols={sorted(cols)} ({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = list(rel.columns)
            otypes = {
                c: canon_type(str(t)) for c, t in zip(rel.columns, rel.types)
            }
            orows = rel.fetchall()
            oracle_hash, oracle_n = table_hash(ocols, orows)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: oracle error: {e}")
            failures.append(name)
            continue
        ok_cols = sorted(cols) == sorted(ocols)
        type_diffs = {
            c: (stypes.get(c), otypes.get(c))
            for c in cols
            if ok_cols and stypes.get(c) != otypes.get(c)
        }
        ok = (
            spark_n == oracle_n and ok_cols and spark_hash == oracle_hash
            and not type_diffs
        )
        tag = "OK   " if ok else "FAIL "
        print(
            f"{tag} {name}: spark({spark_n},{spark_hash}) vs "
            f"oracle({oracle_n},{oracle_hash}) cols_match={ok_cols} "
            f"({time.time()-t0:.1f}s)"
        )
        if not ok:
            failures.append(name)
            if not ok_cols:
                print(f"      spark cols:  {sorted(cols)}")
                print(f"      oracle cols: {sorted(ocols)}")
            if type_diffs:
                print(f"      type diffs (spark, duck): {type_diffs}")
    print("\nFAILURES:", failures or "none")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
